"""Independent truths every timed output is checked against.

- analytics contracts (``etl_lake``): the contract's DuckDB oracle SQL
  over the same files, compared by an order-insensitive value fingerprint.
- ``llm_sf1``: exact Python/numpy truths — 3-shingle Jaccard by an
  inverted index (transported to the 10x tiling), union-find components,
  the curation funnel counts, the DuckDB unigram oracle, and an exact
  float64 GEMM for the cosine joins.
- ``etl_lake``: DuckDB over the generated event files with the same
  MERGE/UPDATE/DELETE applied, and the per-batch counts the Postgres
  table must hold.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(cols: list[str], rows) -> tuple[int, tuple, str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), tuple(sorted(cols)), h


def arrow_rows(tbl) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols))


def arrow_fingerprint(tbl) -> tuple[int, tuple, str]:
    return fingerprint(tbl.column_names, arrow_rows(tbl))


def duck(data_dir: str, sql: str, tables=TABLES):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            glob = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{glob}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def duck_fingerprint(data_dir: str, sql: str):
    cols, rows = duck(data_dir, sql)
    return fingerprint(cols, rows)


def duck_arrow(data_dir: str, sql: str):
    """``sql``'s result as an Arrow table (for results too large to
    fingerprint row by row in Python)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    tbl = con.execute(sql).fetch_arrow_table()
    con.close()
    return tbl


def same_rows(got, want) -> str | None:
    """None when Arrow table ``got`` holds exactly ``want``'s rows, in any
    order, after casting to ``want``'s column types; else a reason."""
    if sorted(got.column_names) != sorted(want.column_names):
        return f"columns {got.column_names} != {want.column_names}"
    got = got.select(want.column_names).cast(want.schema)
    keys = [(c, "ascending") for c in want.column_names]
    if got.sort_by(keys).equals(want.sort_by(keys)):
        return None
    return f"{got.num_rows} rows vs {want.num_rows} expected: contents differ"


def olap_truth(data_dir: str, names: list[str]) -> dict:
    """DuckDB oracle fingerprints of the relational contracts over the
    run's warehouse files (the same for every seed: only row order and
    file split change)."""
    from silvia_spark import registry

    return {n: duck_fingerprint(data_dir, registry.ORACLE[n])
            for n in names}


# --- llm_sf1 --------------------------------------------------------------

def _round6(x: float) -> float:
    """round(x, 6) half-up on the double's exact value (Spark's and the
    oracle SQL's ``round``)."""
    return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _shingles(text: str) -> set[str]:
    w = text.lower().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard_pairs(ids: list[int], texts: list[str],
                  tau: float) -> dict[tuple[int, int], float]:
    """Exact all-pairs 3-shingle Jaccard >= tau, via an inverted index
    (only pairs sharing a shingle can pass any tau > 0)."""
    sh = [_shingles(t) for t in texts]
    post: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(sh):
        for x in s:
            post[x].append(i)
    cand: set[tuple[int, int]] = set()
    for lst in post.values():
        if len(lst) > 1:
            for a in range(len(lst)):
                for b in range(a + 1, len(lst)):
                    cand.add((lst[a], lst[b]))
    out = {}
    for i, j in cand:
        inter = len(sh[i] & sh[j])
        union = len(sh[i]) + len(sh[j]) - inter
        jac = inter * 1.0 / union
        if jac >= tau:
            a, b = sorted((ids[i], ids[j]))
            out[(a, b)] = jac
    return out


def components(pairs) -> dict[int, tuple[int, int]]:
    """doc -> (min doc id of its component, component size), for docs on
    at least one edge."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, list[int]] = defaultdict(list)
    for x in parent:
        groups[find(x)].append(x)
    out = {}
    for members in groups.values():
        lo = min(members)
        for m in members:
            out[m] = (lo, len(members))
    return out


class LlmTruth:
    """Truth for the tiled corpus, computed on the base documents and
    transported copy by copy (doc ids offset by copy * base size)."""

    def __init__(self, base_docs, copies: int, emb_matrix: np.ndarray,
                 data_dir: str):
        n = base_docs.num_rows
        d = base_docs.to_pydict()
        ids, texts = d["doc_id"], d["text"]
        pairs = jaccard_pairs(ids, texts, 0.5)
        mh = [(a, b, j) for (a, b), j in pairs.items() if j >= 0.8]
        self.expected = {}
        self.expected["dedup_docs_minhash"] = {
            (a + c * n, b + c * n, _round6(j))
            for c in range(copies) for a, b, j in mh}
        self.expected["dedup_cluster_cc"] = {
            (i + c * n, lo + c * n, size)
            for c in range(copies)
            for i, (lo, size) in components(pairs).items()}
        self.expected["curation_pipeline"] = {
            (lang, *(v * copies for v in counts))
            for lang, counts in _curation(d).items()}
        self.unigram = duck_fingerprint(data_dir, _unigram_sql())
        self.cos = _gemm_truth(emb_matrix, 0.4)

    def check(self, name: str, tbl) -> str | None:
        """None when ``tbl`` is correct, else a short reason."""
        if name == "text_unigram_logprob":
            got = arrow_fingerprint(tbl)
            return None if got == self.unigram else (
                f"fingerprint {got} != oracle {self.unigram}")
        if name in ("sim_ann_lsh", "sim_ann_auto"):
            return _check_cos(arrow_rows(tbl), self.cos)
        got = set(arrow_rows(tbl))
        want = self.expected[name]
        if got == want:
            return None
        return (f"{len(got)} rows vs {len(want)} expected; extra "
                f"{sorted(got - want)[:2]} missing {sorted(want - got)[:2]}")


def _unigram_sql() -> str:
    from silvia_spark import registry

    return registry.ORACLE["text_unigram_logprob"]


def _curation(d: dict) -> dict[str, tuple[int, ...]]:
    """The curation funnel per language: total, dropped by the length
    filter, by exact dedup, by near-dup (Jaccard >= 0.8), kept, and the
    kept docs' token count."""
    rows = list(zip(d["doc_id"], d["text"], d["lang"], d["n_chars"]))
    tgt = [r for r in rows if r[2] in ("en", "de", "es", "fr")]
    q = [r for r in tgt if 150 <= r[3] <= 450]
    first: dict[str, tuple] = {}
    for r in sorted(q):
        first.setdefault(r[1], r)
    e = list(first.values())
    pairs = jaccard_pairs([r[0] for r in e], [r[1] for r in e], 0.8)
    dups = {b for _a, b in pairs}
    kept = [r for r in e if r[0] not in dups]
    out = {}
    for lang in sorted({r[2] for r in tgt}):
        def cnt(rs):
            return sum(1 for r in rs if r[2] == lang)
        out[lang] = (cnt(tgt), cnt(tgt) - cnt(q), cnt(q) - cnt(e),
                     cnt(e) - cnt(kept), cnt(kept),
                     sum(len(r[1].split(" ")) for r in kept
                         if r[2] == lang))
    return out


def _gemm_truth(mat: np.ndarray, tau: float) -> dict[tuple[int, int], float]:
    m = mat.astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for i0 in range(0, m.shape[0], 2048):
        g = m[i0:i0 + 2048] @ m.T
        r, c = np.nonzero(g >= tau)
        keep = c > r + i0
        for a, b, v in zip(r[keep] + i0, c[keep], g[r[keep], c[keep]]):
            out[(int(a), int(b))] = float(v)
    return out


def _check_cos(rows, truth) -> str | None:
    """Precision 1 with cosines matching to 2e-6; recall >= 1 - 5e-5
    (LSH banding misses a pair at cos 0.4 with p ~ 1e-5)."""
    got = {(a, b): c for a, b, c in rows}
    extra = [p for p in got if p not in truth]
    if extra:
        return f"false positives {extra[:3]}"
    worst = max((abs(got[p] - truth[p]) for p in got), default=0.0)
    if worst > 2e-6:
        return f"cosine off by {worst}"
    missed = len(truth) - len(got)
    if missed > 5e-5 * len(truth):
        return f"recall: missed {missed} of {len(truth)}"
    return None


# --- etl_lake -------------------------------------------------------------

def etl_sql(data_dir: str, upd_mod: int, del_over: float) -> dict[str, str]:
    """DuckDB twins of the ETL pass: the post-stream snapshot, the final
    snapshot after MERGE + UPDATE + DELETE, and per-file type counts."""
    inbox = os.path.join(data_dir, "inbox", "*.parquet")
    chg = os.path.join(data_dir, "changes.parquet")
    ev = f"read_parquet('{inbox}')"
    merged = f"""
      SELECT e.event_id, e.ts, e.user_id, e.event_type,
             CASE WHEN c.op = 'U' THEN c.value ELSE e.value END AS value
      FROM {ev} e LEFT JOIN read_parquet('{chg}') c
        ON e.event_id = c.event_id AND e.event_type = c.event_type
      WHERE c.op IS NULL OR c.op <> 'D'
      UNION ALL
      SELECT event_id, TIMESTAMP '2024-02-01 00:00:00', 0, event_type, value
      FROM read_parquet('{chg}') WHERE op = 'I'"""
    updated = f"""
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'error' AND user_id % 7 = {upd_mod}
                  THEN value + 1 ELSE value END AS value
      FROM ({merged})"""
    final = f"""
      SELECT * FROM ({updated})
      WHERE NOT (event_type = 'view' AND value > {del_over})"""
    per_file = f"""
      SELECT regexp_extract(filename, 'events-(\\d+)', 1)::INT AS f,
             event_type, count(*) AS cnt
      FROM read_parquet('{inbox}', filename = true)
      GROUP BY ALL ORDER BY ALL"""
    return {"stream": f"SELECT * FROM {ev}", "final": final,
            "per_file": per_file}
