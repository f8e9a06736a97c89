"""Self-tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import corpus, oracle, run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_digest(tmp_path, workload):
    a = corpus.write_corpus(workload, 5, str(tmp_path / "a"))
    b = corpus.write_corpus(workload, 5, str(tmp_path / "b"))
    c = corpus.write_corpus(workload, 6, str(tmp_path / "c"))
    assert a["digest"] == b["digest"] != c["digest"]


def test_base_digest_pinned():
    assert corpus.base_digest(corpus.base_tables()) == corpus.BASE_DIGEST


def test_modified_corpus_refused(tmp_path):
    root = str(tmp_path)
    corpus.write_corpus("etl_lake", 3, root)
    corpus.check_corpus(root, 3)
    with pytest.raises(corpus.Refusal):
        corpus.check_corpus(root, 4)  # another seed's corpus
    with open(os.path.join(root, "inbox", "events-000.parquet"), "ab") as f:
        f.write(b"x")
    with pytest.raises(corpus.Refusal):
        corpus.check_corpus(root, 3)


def test_olap_oracle_hash_seed_invariant(tmp_path):
    from perfbench import workloads
    from silvia_spark import registry

    registry.load_all_modules()
    got = []
    for seed in (1, 2):
        d = str(tmp_path / f"s{seed}")
        corpus.write_corpus("etl_lake", seed, d)
        got.append(oracle.olap_truth(os.path.join(d, "warehouse"),
                                     workloads.OLAP_OPS))
    assert got[0] == got[1]
    assert all(fp[0] > 0 for fp in got[0].values())  # no empty oracle


def test_same_rows_ignores_order_not_content():
    want = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert oracle.same_rows(want.take([2, 0, 1]), want) is None
    assert oracle.same_rows(want.slice(1), want) is not None
    bumped = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5000001]})
    assert oracle.same_rows(bumped, want) is not None


class _Tracer:
    def group(self, *a):
        pass


class _OneOpWorkload:
    """Returns the oracle's own rows, one of them perturbed when asked."""

    def __init__(self, perturb: bool):
        self.perturb = perturb
        self.rows = [(1, "a", 1.5), (2, "b", 2.5)]
        self.want = oracle.fingerprint(["k", "s", "v"], self.rows)

    def order(self, p):
        return [SimpleNamespace(name="op", module="m")]

    def run_op(self, spark, op, tracer, tag):
        rows = list(self.rows)
        if self.perturb:
            rows[1] = (2, "b", 2.5000001)
        tbl = pa.table({"k": [r[0] for r in rows], "s": [r[1] for r in rows],
                        "v": [r[2] for r in rows]})
        return 0.0, 0.0, tbl

    def check(self, op, tbl):
        got = oracle.arrow_fingerprint(tbl)
        return None if got == self.want else "mismatch"


@pytest.mark.parametrize("perturb", [False, True])
def test_perturbed_row_counts_as_failed(perturb):
    p = run.run_pass(_OneOpWorkload(perturb), None, _Tracer(), 0,
                     lambda: None)
    assert (len(p["ops"]), p["failed"]) == (1, int(perturb))


def test_raising_op_counts_as_failed():
    wl = _OneOpWorkload(False)
    wl.run_op = lambda *a: 1 / 0
    p = run.run_pass(wl, None, _Tracer(), 0, lambda: None)
    assert p["failed"] == 1


def test_benchmark_json_contract():
    raw = open(os.path.join(REPO, "BENCHMARK.json"), "rb").read()
    assert len(raw) <= 64 * 1024
    s = json.loads(raw)
    assert set(s) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= s["run_seconds"] <= 60
    assert s["paths"] == ["perfbench"]
    assert 2 <= len(s["workloads"]) <= 8
    assert {w["name"] for w in s["workloads"]} <= set(run.WORKLOADS)
    names = []
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        names.append(w["name"])
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in s["end_to_end"] + s["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        names.append(m["name"])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("traced", [False, True])
def test_printed_metrics_are_the_listed_ones(traced, workload):
    b = run.Bench(workload, 1, 1, traced, "/nonexistent")
    b.layer = {"session.jvm_launch_s": 1.0, "pg.rows": 80.0}
    b.wl = SimpleNamespace(batches=[0.5, 0.7], stream_walls=[2.0])
    passes = [{"ops": [], "failed": 0, "wall": 3.0}]
    m = b.metrics(passes, 2.1, {"rows": 100}, [0.05], 7, 0)
    listed = spec()["per_layer" if traced else "end_to_end"]
    assert list(m) == [x["name"] for x in listed]
    for name, v in m.items():
        assert NAME.match(name)
        assert isinstance(v["value"], float) and v["unit"]
    if not traced:
        assert m["setup_s"]["value"] == pytest.approx(2.1)
        # etl: events per second of stream wall; llm: rows per pass second
        want = 50.0 if workload == "etl_lake" else 100 / 3.0
        assert m["ingest_events_per_s"]["value"] == pytest.approx(want)


def test_refuses_route_switching_env():
    env = dict(os.environ, SILVIA_GATHER_MAX_BYTES="1000")
    p = subprocess.run([sys.executable, os.path.join(REPO, "perfbench",
                                                     "run.py"),
                        "--workload", "llm_sf1", "--seed", "1",
                        "--seconds", "1"], env=env, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode == 2 and p.stdout == ""
    assert "REFUSED" in p.stderr


def test_refuses_without_postgres(tmp_path, monkeypatch):
    from perfbench import workloads
    from silvia_spark import pg

    def no_server(root):
        raise RuntimeError("initdb failed")

    monkeypatch.setattr(pg, "boot_server", no_server)
    wl = workloads.EtlWorkload(str(tmp_path), {}, 1, str(tmp_path))
    with pytest.raises(corpus.Refusal, match="parquet fallback"):
        wl.prepare(None)
    assert "SILVIA_PG_HOST" not in os.environ
