"""The workloads: their op lists, how each op is timed, and how each
output is verified.

An op is timed as the caller of ``silvia_spark`` pays it: caches cleared
(``io.clear_caches``), a fresh plan built (``build``), then the action
(``action``). Both phases run under their own Spark job group.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from typing import NamedTuple

import numpy as np

from perfbench import corpus, oracle

# etl_lake's analytics phase: one contract per relational layer
OLAP_OPS = [
    "scan_schema_enforce",     # operators.scans
    "agg_pricing_summary",     # operators.aggregations
    "join_5way_star",          # operators.joins
    "window_rank_topn",        # operators.windows
    "topk_limit",              # operators.sorts
    "stream_tumbling_1h",      # streaming.batch_twins
    "q5_local_supplier",       # operators.olap_extras
]
# one contract per LLM-operator module
LLM_OPS = [
    "dedup_docs_minhash",      # functions.llm_ops: MinHash bands
    "dedup_cluster_cc",        # functions.curation_extras: CC rounds
    "sim_ann_lsh",             # functions.llm_extras: fused ANN GEMM
    "text_unigram_logprob",    # functions.training_extras
]
ETL_OPS = ["stream", "merge", "update", "delete", "read_current",
           "read_travel", "history"]
# micro-batches left out of batch_p50_s / batch_p90_s: the first creates
# the table and starts the source, and the next ones still run while the
# fresh JVM compiles the batch path, so their durations track the host's
# load more than the program
STREAM_WARMUP = 3


class Op(NamedTuple):
    """One timed operation and the library module it exercises."""

    name: str
    module: str


def contract_module(name: str) -> str:
    from silvia_spark import registry

    return registry.QUERIES[name].__module__.removeprefix("silvia_spark.")


class ContractWorkload:
    """llm_sf1, and etl_lake's analytics phase (``name`` "olap"): each op
    is one registry contract over the tables in ``data_dir``."""

    def __init__(self, name: str, ops: list[str], data_dir: str, rec: dict,
                 seed: int):
        self.name, self.data_dir, self.rec = name, data_dir, rec
        self.table_dir = data_dir
        self.op_names = ops
        self.seed = seed
        self.truth = None
        self.layer: dict[str, float] = {}  # no layer counters of its own

    def tables(self) -> list[str]:
        return sorted(f.removesuffix(".parquet")
                      for f in os.listdir(self.data_dir)
                      if f.endswith(".parquet"))

    def prepare(self, spark) -> None:
        self.ops = [Op(o, contract_module(o)) for o in self.op_names]
        if self.name == "olap":
            self.truth = oracle.olap_truth(self.data_dir, self.op_names)
        else:
            base = corpus.llm_base_docs(corpus.base_tables())
            _, mat = corpus.llm_embeddings(self.seed)
            self.truth = oracle.LlmTruth(base, self.rec["copies"], mat,
                                         self.data_dir)

    def order(self, pass_no: int) -> list[Op]:
        if self.name != "olap":
            return list(self.ops)
        rng = np.random.default_rng([self.seed, 7, pass_no])
        return [self.ops[i] for i in rng.permutation(len(self.ops))]

    def run_op(self, spark, op: Op, tracer, tag: str):
        from silvia_spark import registry

        fn = registry.QUERIES[op.name]
        tracer.group(op.name, "build", tag)
        t0 = time.perf_counter()
        df = fn(spark, self.data_dir)
        t1 = time.perf_counter()
        tracer.group(op.name, "action", tag)
        tbl = df.toArrow()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, tbl

    def check(self, op: Op, tbl) -> str | None:
        if self.name == "olap":
            got = oracle.arrow_fingerprint(tbl)
            want = self.truth[op.name]
            return None if got == want else f"{got} != oracle {want}"
        return self.truth.check(op.name, tbl)

    def cleanup(self, spark) -> None:
        pass


class Postgres:
    """A private PostgreSQL server for one run, booted with the library's
    own ``pg.boot_server`` and stopped (and its files removed) at exit."""

    def __init__(self, run_dir: str):
        from silvia_spark import pg

        root = os.path.join(run_dir, "pg")
        if not self._reachable(run_dir):
            # PostgreSQL will not run as root, and the postgres user cannot
            # traverse a checkout under a private home directory; its data
            # then lives in a private temp dir removed at exit.
            import tempfile

            root = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        self.root = root
        try:
            pg.boot_server(root)
        except BaseException:
            self.stop()
            raise
        os.environ["SILVIA_PG_HOST"] = root

    @staticmethod
    def _reachable(path: str) -> bool:
        if os.geteuid() != 0:
            return True
        p = subprocess.run(["su", "postgres", "-c", f"test -x '{path}'"],
                           capture_output=True)
        return p.returncode == 0

    def stop(self) -> None:
        from silvia_spark import pg

        data = os.path.join(self.root, "data")
        cmd = f"{pg.PG_BIN}/pg_ctl -D {data} -m fast -w stop"
        if os.geteuid() == 0:
            subprocess.run(["su", "postgres", "-c", cmd], cwd="/tmp",
                           capture_output=True)
        else:
            subprocess.run(cmd, shell=True, capture_output=True)
        os.environ.pop("SILVIA_PG_HOST", None)
        shutil.rmtree(self.root, ignore_errors=True)


def _files(root: str) -> set[str]:
    out = set()
    for dp, _dn, fns in os.walk(root):
        out.update(os.path.join(dp, f) for f in fns if f.endswith(".parquet"))
    return out


def _bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _dn, fns in os.walk(root) for f in fns)


class EtlWorkload:
    """etl_lake: silvia's own job. A file-source stream drains the event
    backlog one file per micro-batch, committing each batch to a manifest
    table and merging per-type counts into PostgreSQL; then SQL MERGE,
    UPDATE and DELETE; then current, time-travel and history reads; then
    the analytics phase, the OLAP_OPS contracts over the sf0.1 warehouse
    tables in a seeded order."""

    name = "etl_lake"

    def __init__(self, data_dir: str, rec: dict, seed: int, run_dir: str):
        self.data_dir, self.rec, self.seed = data_dir, rec, seed
        self.run_dir = run_dir
        self.analytics = ContractWorkload(
            "olap", OLAP_OPS, os.path.join(data_dir, "warehouse"), rec, seed)
        self.table_dir = self.analytics.table_dir
        self.ops = [Op(o, m) for o, m in zip(ETL_OPS, [
            "streaming", "sources.sql_dml", "sources.sql_dml",
            "sources.sql_dml", "operators.manifest_table",
            "operators.manifest_table", "operators.manifest_table"])]
        self.upd_mod = seed % 7
        self.del_over = 150.0 + seed % 50
        self.layer: dict[str, float] = {}
        # durations of the micro-batches after each stream's warm-up
        self.batches: list[float] = []
        self.stream_walls: list[float] = []
        self.pg_tables: list[str] = []
        self.views: list[str] = []
        self.pgsrv = None

    def tables(self) -> list[str]:
        return self.analytics.tables()

    def prepare(self, spark) -> None:
        from silvia_spark import pg

        try:
            self.pgsrv = Postgres(self.run_dir)
        except (RuntimeError, OSError) as e:
            raise corpus.Refusal(
                f"no PostgreSQL server could be booted ({e}): etl_lake "
                "would time the parquet fallback instead") from e
        self.host = pg.resolve_host()
        if self.host != self.pgsrv.root:
            raise corpus.Refusal(
                "pg.resolve_host() does not resolve to the run's PostgreSQL "
                "server: etl_lake would time the parquet fallback instead")
        sql = oracle.etl_sql(self.data_dir, self.upd_mod, self.del_over)
        self.want = {k: oracle.duck_arrow(self.data_dir, v)
                     for k, v in sql.items() if k != "per_file"}
        _c, rows = oracle.duck(self.data_dir, sql["per_file"])
        self.want_pg = sorted((int(f), t, int(c)) for f, t, c in rows)
        self.analytics.prepare(spark)

    def order(self, pass_no: int) -> list[Op]:
        self.pass_no = pass_no
        self.root = os.path.join(self.run_dir, "lake", f"p{pass_no}")
        self.ckpt = os.path.join(self.run_dir, "ckpt", f"p{pass_no}")
        self.table = f"perfbench_p{pass_no}"
        self.pg_tables.append(self.table)
        self.pg.ensure_upsert_table(self.host, self.table)
        self.results: dict[str, object] = {}
        self.files: set[str] = set()
        return list(self.ops) + self.analytics.order(pass_no)

    @property
    def pg(self):
        from silvia_spark import pg

        return pg

    def _add(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + v

    def run_op(self, spark, op: Op, tracer, tag: str):
        from silvia_spark import api

        name = op.name
        if name not in ETL_OPS:
            return self.analytics.run_op(spark, op, tracer, tag)
        if name == "stream":
            return self._stream(spark, tracer, tag)
        if name in ("merge", "update", "delete"):
            t0 = time.perf_counter()
            tracer.group(name, "action", tag)
            if name == "merge":
                spark.read.parquet(os.path.join(
                    self.data_dir, "changes.parquet")) \
                    .createOrReplaceTempView("perfbench_changes")
                self.views.append("perfbench_changes")
                v = api.merge_into_sql(spark, f"""
                    MERGE INTO `{self.root}` AS t USING perfbench_changes AS s
                    ON t.event_id = s.event_id AND t.event_type = s.event_type
                    WHEN MATCHED AND s.op = 'D' THEN DELETE
                    WHEN MATCHED AND s.op = 'U' THEN UPDATE SET value = s.value
                    WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
                      (event_id, ts, user_id, event_type, value)
                      VALUES (s.event_id, TIMESTAMP '2024-02-01 00:00:00', 0,
                              s.event_type, s.value)""")
            elif name == "update":
                v = api.update_sql(spark, f"""
                    UPDATE `{self.root}` SET value = value + 1
                    WHERE event_type = 'error'
                      AND user_id % 7 = {self.upd_mod}""")
            else:
                v = api.delete_sql(spark, f"""
                    DELETE FROM `{self.root}`
                    WHERE event_type = 'view' AND value > {self.del_over}""")
            dt = time.perf_counter() - t0
            self._add(f"sources.sql_dml.{name}_s", dt)
            return 0.0, dt, v
        t0 = time.perf_counter()
        tracer.group(name, "build", tag)
        if name == "history":
            t1 = time.perf_counter()
            tracer.group(name, "action", tag)
            out = api.table_history(self.root)
        else:
            version = self.results.get("stream") if name == "read_travel" \
                else None
            df = api.read_snapshot(spark, self.root, version=version)
            t1 = time.perf_counter()
            tracer.group(name, "action", tag)
            out = df.toArrow()
        t2 = time.perf_counter()
        self._add("operators.manifest_table.read_s", t2 - t0)
        return t1 - t0, t2 - t1, out

    def _stream(self, spark, tracer, tag: str):
        from silvia_spark import api
        from silvia_spark.schemas import EVENTS

        schema = EVENTS.__class__(
            [f for f in EVENTS.fields if f.name != "props"])
        host, table, root = self.host, self.table, self.root
        run_id = f"perfbench-{self.seed}"
        pg = self.pg

        def sink(batch, batch_id):
            t0 = time.perf_counter()
            api.commit_append(batch.sparkSession, root, batch, "event_type",
                              txn=("perfbench", batch_id))
            t1 = time.perf_counter()
            rows = [(batch_id, r[0], r[1]) for r in
                    batch.groupBy("event_type").count().collect()]
            pg.copy_upsert(host, table, rows, run_id)
            t2 = time.perf_counter()
            self._add("operators.manifest_table.commit_s", t1 - t0)
            self._add("pg.upsert_s", t2 - t1)
            self._add("pg.rows", len(rows))

        t0 = time.perf_counter()
        tracer.group("stream", "build", tag)
        q = (api.source(spark, "file", path=os.path.join(self.data_dir,
                                                         "inbox"),
                        schema=schema, maxFilesPerTrigger="1")
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", self.ckpt)
             .trigger(availableNow=True))
        t1 = time.perf_counter()
        tracer.group("stream", "action", tag)
        sq = q.start()
        tracer.alias(str(sq.runId), "stream", "action", tag)
        sq.awaitTermination()
        t2 = time.perf_counter()
        self.stream_walls.append(t2 - t1)
        return t1 - t0, t2 - t1, sq

    def _stream_done(self, sq) -> int:
        """Record the finished stream's progress events and lake layout;
        returns the table version the stream committed up to."""
        from silvia_spark.operators.manifest_table import current_version

        prog = [p for p in sq.recentProgress if p["numInputRows"] > 0]
        durs = [p["durationMs"]["triggerExecution"] / 1000 for p in prog]
        self.batches += durs[STREAM_WARMUP:]
        self._add("streaming.first_batch_s", durs[0])
        self._add("streaming.batches", len(prog))
        self._add("streaming.batch_s", sum(durs))
        # rows the source delivered, counting each re-read of a batch
        self._add("streaming.input_rows",
                  sum(p["numInputRows"] for p in prog))
        self._add("operators.manifest_table.files_written",
                  len(_files(self.root)))
        self._add("operators.manifest_table.metadata_bytes",
                  _bytes(os.path.join(self.root, "_manifests")))
        return current_version(self.root)

    def check(self, op: Op, out) -> str | None:
        name = op.name
        if name not in ETL_OPS:
            return self.analytics.check(op, out)
        if name == "stream":
            out = self._stream_done(out)
        files = _files(self.root)
        if name in ("merge", "update", "delete"):
            self._add("sources.sql_dml.files_rewritten",
                      len(files - self.files))
        self.files = files
        self.results[name] = out
        if name == "stream":
            got = sorted(self.pg.read_upsert_table(
                self.host, self.table, f"perfbench-{self.seed}"))
            if got != self.want_pg:
                return (f"postgres readback {len(got)} rows != "
                        f"{len(self.want_pg)} expected")
            return None if out == self.rec["files"] else (
                f"stream ended at v{out}, expected v{self.rec['files']}")
        if name in ("merge", "update", "delete"):
            prev = {"merge": "stream", "update": "merge",
                    "delete": "update"}[name]
            want = self.results.get(prev)
            if not isinstance(want, int) or out != want + 1:
                return f"{name} committed v{out} after v{want}"
            return None
        if name == "history":
            vs = [h["version"] for h in out]
            n = self.rec["files"] + 3
            return None if vs == list(range(n, 0, -1)) else (
                f"history versions {vs[:3]}... != {n}..1")
        tbl = out.drop([c for c in out.column_names if c.startswith("_")])
        return oracle.same_rows(
            tbl, self.want["stream" if name == "read_travel" else "final"])

    def cleanup(self, spark) -> None:
        for v in self.views:
            spark.catalog.dropTempView(v)
        if self.pgsrv is not None:
            if self.pg_tables:
                self.pg.run_psql(self.host, "".join(
                    f"DROP TABLE IF EXISTS {t};" for t in self.pg_tables))
            self.pgsrv.stop()
            self.pgsrv = None
