"""Seeded inputs for the workloads.

Everything here is plain numpy + pyarrow: the library under test never
generates or sees anything but the parquet files written below.

A fixed *base* corpus (TPC-H-style star schema, an event stream,
documents with planted near-duplicates, embeddings) is generated from
``BASE_SEED`` at sf0.1 sizes. Its content digest is pinned in
``BASE_DIGEST``: a numpy/pyarrow upgrade that changed the generated
content would silently change the workload, so it is refused instead.
The run's ``--seed`` then only chooses how the base is laid out (row
order, file split) and the seed-owned parts (tiling suffixes, the
embedding matrix, the change batch), so the oracles of etl_lake's
analytics phase are the same for every seed.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20_241_016
SF01 = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "documents": 5_000, "embeddings": 2_000}
FILES_PER_TABLE = 8
WAREHOUSE = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events")
LLM_BASE_DOCS, LLM_COPIES = 1_200, 2
LLM_VECS, DIM = 2_000, 64
ETL_FILES = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window cache shard index "
         "token model embed train eval split").split()

# base_digest(base_tables()) on the numpy/pyarrow this was written with
BASE_DIGEST = "e2dcb37e4baefe60"


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype(
        "timedelta64[us]"), pa.timestamp("us"))


def base_tables() -> dict[str, pa.Table]:
    """The sf0.1 base corpus, a pure function of BASE_SEED."""
    rng = np.random.default_rng(BASE_SEED)
    n = SF01
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, o)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, o), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, o), "1995-01-01"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, o)])})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, li)]),
        "l_shipdate": _ts(rng.integers(0, 2498, li), "1995-01-02")})
    e = n["events"]
    span_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, span_us, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, 5, e)]),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    out["embeddings"] = _embeddings(
        rng.standard_normal((v, DIM), dtype=np.float32),
        rng.integers(0, 10, v))
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences with planted structure: ~1% exact copies,
    ~8% one-word edits (3-shingle Jaccard well above 0.8), ~6% heavier
    edits (Jaccard around 0.5-0.8, so connected components chain)."""
    texts: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.15:
            src = list(texts[int(rng.integers(0, i))])
            if r < 0.01:
                texts.append(src)
                continue
            edits = 1 if r < 0.09 else max(2, len(src) // 12)
            for pos in rng.integers(0, len(src), edits):
                src[int(pos)] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(src)
        else:
            k = int(rng.integers(8, 101))
            texts.append([WORDS[j] for j in
                          rng.integers(0, len(WORDS), k)])
    joined = [" ".join(t) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": joined,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in joined], pa.int64())})


def _embeddings(mat: np.ndarray, labels: np.ndarray) -> pa.Table:
    n = mat.shape[0]
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(mat.reshape(-1), pa.float32()), mat.shape[1]).cast(
                pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def table_digest(t: pa.Table) -> str:
    """Digest of a table's columns in row order (the base order is fixed,
    so this is a content check)."""
    h = hashlib.sha256("\x1f".join(t.column_names).encode())
    for col in t.columns:
        col = col.combine_chunks()
        if pa.types.is_list(col.type):
            col = col.flatten()
        if pa.types.is_string(col.type):
            off = np.frombuffer(col.buffers()[1], np.int32)[
                col.offset:col.offset + len(col) + 1]
            h.update((off - off[0]).tobytes())
            h.update(col.buffers()[2].to_pybytes()[off[0]:off[-1]])
        else:
            h.update(np.ascontiguousarray(
                col.to_numpy(zero_copy_only=False)).tobytes())
    return h.hexdigest()[:16]


def base_digest(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(f"{name}:{table_digest(tables[name])}\n".encode())
    return h.hexdigest()[:16]


def _write_split(t: pa.Table, path: str, files: int,
                 rng: np.random.Generator) -> None:
    """Write ``t`` row-permuted by ``rng`` as a directory of ``files``
    parquet parts (the multi-split layout every real ingest produces)."""
    os.makedirs(path)
    t = t.take(pa.array(rng.permutation(t.num_rows)))
    files = min(files, max(1, t.num_rows // 1000))
    step = -(-t.num_rows // files)
    for f in range(files):
        pq.write_table(t.slice(f * step, step),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def files_digest(root: str) -> str:
    """Digest of every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn == "corpus.json":
                continue
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class Refusal(RuntimeError):
    """The run would measure a different program or different inputs."""


def check_base(tables: dict[str, pa.Table]) -> str:
    got = base_digest(tables)
    if got != BASE_DIGEST:
        raise Refusal(
            f"base corpus digest {got} != pinned {BASE_DIGEST}: this numpy/"
            "pyarrow generates a different workload than the one the "
            "benchmark's numbers refer to")
    return got


def tile_documents(docs: pa.Table, seed: int) -> pa.Table:
    """LLM_COPIES-fold disjoint-vocabulary tiling (tools/bench_sf1_heavy.py's
    construction): copy 0 verbatim, every token of copy k>0 carries a
    seed-chosen suffix, a bijection on that copy's vocabulary, so
    within-copy shingle structure is the base's and cross-copy shingle
    intersections are empty. doc_ids of copy k are offset by k*n."""
    rng = np.random.default_rng([seed, 1])
    tags = rng.choice(26 * 26, LLM_COPIES - 1, replace=False)
    suffixes = [""] + [f"x{chr(97 + t // 26)}{chr(97 + t % 26)}"
                       for t in tags]
    d = docs.to_pydict()
    n = docs.num_rows
    out: dict[str, list] = {k: [] for k in d}
    for c, suf in enumerate(suffixes):
        out["doc_id"].extend(i + c * n for i in d["doc_id"])
        out["text"].extend(t if not suf else
                           " ".join(w + suf for w in t.split(" "))
                           for t in d["text"])
        for k in ("lang", "source", "n_chars"):
            out[k].extend(d[k])
    return pa.table({k: pa.array(out[k], docs.schema.field(k).type)
                     for k in out})


def llm_base_docs(base: dict[str, pa.Table]) -> pa.Table:
    """The documents the llm workload tiles: the base's first
    LLM_BASE_DOCS (planted duplicates point backwards, so any prefix keeps
    its own near-duplicate structure)."""
    return base["documents"].slice(0, LLM_BASE_DOCS)


def llm_embeddings(seed: int) -> tuple[pa.Table, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    mat = rng.standard_normal((LLM_VECS, DIM), dtype=np.float32)
    return _embeddings(mat, np.arange(LLM_VECS) % 10), mat


def etl_changes(events: pa.Table, seed: int) -> pa.Table:
    """The seeded MERGE source: updates to existing events, deletes of
    others, and fresh inserts (op column U/D/I)."""
    rng = np.random.default_rng([seed, 3])
    n = events.num_rows
    picks = rng.choice(n, 600, replace=False)
    upd, dele = picks[:400], picks[400:]
    ids = events.column("event_id").to_numpy()
    types = events.column("event_type").to_pylist()
    vals = events.column("value").to_numpy()
    new_ids = np.arange(n, n + 200) + 10_000_000
    return pa.table({
        "event_id": pa.array(np.concatenate([ids[upd], ids[dele], new_ids]),
                             pa.int64()),
        "event_type": [types[i] for i in upd] + [types[i] for i in dele]
        + [EVENT_TYPES[int(k)] for k in rng.integers(0, 5, 200)],
        "value": np.concatenate([np.round(vals[upd] * 2 + 1, 2),
                                 vals[dele], np.round(
                                     rng.uniform(0, 100, 200), 2)]),
        "op": ["U"] * 400 + ["D"] * 200 + ["I"] * 200})


def write_corpus(workload: str, seed: int, root: str) -> dict:
    """Generate ``workload``'s inputs for ``seed`` under ``root`` and
    return its record (seed, digests, facts the oracles need)."""
    base = base_tables()
    rec: dict = {"workload": workload, "seed": seed,
                 "base_digest": check_base(base)}
    rng = np.random.default_rng([seed, 0])
    if workload == "llm_sf1":
        docs = tile_documents(llm_base_docs(base), seed)
        emb, _ = llm_embeddings(seed)
        _write_split(docs, os.path.join(root, "documents.parquet"),
                     32, rng)
        _write_split(emb, os.path.join(root, "embeddings.parquet"), 32, rng)
        rec.update(copies=LLM_COPIES, rows=docs.num_rows + emb.num_rows)
    elif workload == "etl_lake":
        ev = base["events"].select(["event_id", "ts", "user_id",
                                    "event_type", "value"])
        ev = ev.take(pa.array(rng.permutation(ev.num_rows)))
        inbox = os.path.join(root, "inbox")
        os.makedirs(inbox)
        step = -(-ev.num_rows // ETL_FILES)
        t0 = 1_700_000_000
        for f in range(ETL_FILES):
            p = os.path.join(inbox, f"events-{f:03d}.parquet")
            pq.write_table(ev.slice(f * step, step), p)
            # the file source orders a backlog by modification time
            os.utime(p, (t0 + f, t0 + f))
        pq.write_table(etl_changes(base["events"], seed),
                       os.path.join(root, "changes.parquet"))
        # the analytics phase's tables: content fixed, layout seeded
        for name in WAREHOUSE:
            _write_split(base[name], os.path.join(
                root, "warehouse", f"{name}.parquet"), FILES_PER_TABLE, rng)
        rec.update(files=ETL_FILES, rows=ev.num_rows)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rec["digest"] = files_digest(root)
    with open(os.path.join(root, "corpus.json"), "w") as f:
        json.dump(rec, f)
    return rec


def check_corpus(root: str, seed: int) -> dict:
    """Refuse a corpus whose files no longer match the record written
    with them, or that was generated for another seed."""
    with open(os.path.join(root, "corpus.json")) as f:
        rec = json.load(f)
    if rec["seed"] != seed:
        raise Refusal(f"corpus under {root} is for seed {rec['seed']}, "
                      f"not {seed}")
    got = files_digest(root)
    if got != rec["digest"]:
        raise Refusal(f"corpus digest {got} != recorded "
                      f"{rec['digest']} for seed {seed}: the input "
                      "files were modified")
    return rec
