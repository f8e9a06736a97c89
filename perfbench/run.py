"""silvia_spark end-to-end benchmark.

    python3 perfbench/run.py --workload etl_lake --seed 1 --seconds 10 \\
        --trace 0

Generates the workload's inputs from ``--seed``, starts one local Spark
session (``local[nproc]``), runs the workload's ops end to end through
``silvia_spark``'s public entry points for ``--seconds`` (whole passes),
verifies every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` enables the Spark UI's REST API and
prints the per-layer metrics instead. The line before it stamps the
environment the numbers were taken in.

Exit code 2 is a refusal (the run would measure a different program),
3 means ``silvia_spark`` is not importable; neither prints a result.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("llm_sf1", "etl_lake")
# settings that switch the library onto another route or heap
REFUSED_ENV = ("SILVIA_GATHER_MAX_BYTES", "SPARK_DRIVER_MEMORY",
               "SILVIA_ANN_INDEX_ROOT")
DRIVER_MEMORY = "8g"  # session.get_session's default heap


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks since boot, from /proc/stat: the share the
    hypervisor gave to other guests shows how contended the host was."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 run_dir: str):
        self.workload, self.seed = workload, seed
        self.seconds, self.traced = seconds, traced
        self.run_dir = run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.layer: dict[str, float] = {}
        self.wl = None
        self.spark = None

    # --- session --------------------------------------------------------
    def _confs(self) -> dict[str, str]:
        from silvia_spark.session import RUNTIME_CONFS

        c = {
            "spark.master": f"local[{self.cores}]",
            "spark.app.name": f"perfbench-{self.workload}",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir}/tmp",
            "spark.local.dir": f"{self.run_dir}/spark",
            "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
            "spark.sql.shuffle.partitions": str(self.cores),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if self.traced else "false",
            "spark.ui.port": "0",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        c.update(RUNTIME_CONFS)
        return c

    def setup(self, tables: list[str], data_dir: str) -> float:
        """The set-up a caller pays before the first op: the gateway JVM
        launch, SparkContext start, registry.load_all_modules(), the first
        job, and load_table for every table. Returns its wall time."""
        from pyspark import SparkConf, SparkContext
        from pyspark.sql import SparkSession

        conf = SparkConf(loadDefaults=False).setAll(self._confs().items())
        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=conf)
        t1 = time.perf_counter()
        b = SparkSession.builder
        for k, v in self._confs().items():
            b = b.config(k, v)
        spark = self.spark = b.getOrCreate()
        from silvia_spark import io, registry
        from silvia_spark.session import configure_session

        configure_session(spark)
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        registry.load_all_modules()
        t3 = time.perf_counter()
        spark.sparkContext.setJobGroup(f"{self.workload}:setup:first_job",
                                       "setup")
        spark.range(0, 1, 1, 1).selectExpr("1 AS one").toArrow()
        t4 = time.perf_counter()
        for t in tables:
            io.load_table(spark, data_dir, t)
        t5 = time.perf_counter()
        self.layer.update({"session.jvm_launch_s": t1 - t0,
                           "session.start_s": t2 - t1,
                           "registry.load_all_s": t3 - t2,
                           "session.first_job_s": t4 - t3,
                           "io.load_table_s": t5 - t4})
        dp = spark.sparkContext.defaultParallelism
        if dp != self.cores:
            from perfbench.corpus import Refusal

            raise Refusal(f"defaultParallelism {dp} != the {self.cores} "
                          "cores requested")
        return t5 - t0

    def floor_scan(self, data_dir: str, table: str, tracer, tag: str) -> float:
        """bench.py's 1-row-scan control: a pushed point lookup on the
        smallest table, timed between passes."""
        from pyspark.sql import functions as F

        from silvia_spark.io import load_table

        tracer.group("control", "action", tag)
        t0 = time.perf_counter()
        df = load_table(self.spark, data_dir, table)
        key = df.columns[0]
        df.where(F.col(key) == 1).select(key).toArrow()
        return time.perf_counter() - t0

    # --- run ------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from perfbench import corpus, spans, workloads

        data_dir = os.path.join(self.run_dir, "data")
        os.makedirs(data_dir)
        t0 = time.perf_counter()
        rec = corpus.write_corpus(self.workload, self.seed, data_dir)
        corpus.check_corpus(data_dir, self.seed)
        log(f"corpus {rec['digest']} in {time.perf_counter() - t0:.2f}s")
        if self.workload == "etl_lake":
            wl = workloads.EtlWorkload(data_dir, rec, self.seed, self.run_dir)
            ctrl_table = "region"
        else:
            wl = workloads.ContractWorkload(self.workload, workloads.LLM_OPS,
                                            data_dir, rec, self.seed)
            ctrl_table = "embeddings"
        self.wl = wl
        load_avg0 = os.getloadavg()[0]
        ticks0 = cpu_ticks()
        setup_s = self.setup(wl.tables(), wl.table_dir)
        spark = self.spark
        tracer = spans.Tracer(spark, self.workload, self.traced)
        t0 = time.perf_counter()
        wl.prepare(spark)
        log(f"setup {setup_s:.2f}s, "
            f"oracles in {time.perf_counter() - t0:.2f}s")

        from silvia_spark import io

        # write back the corpus and the server files now, not during the
        # timed passes
        os.sync()
        passes: list[dict] = []
        controls: list[float] = []
        t_start = time.perf_counter()
        while True:
            p = len(passes)
            passes.append(run_pass(wl, spark, tracer, p, io.clear_caches))
            controls.append(self.floor_scan(wl.table_dir, ctrl_table, tracer,
                                            f"p{p}"))
            log(f"pass {p}: {passes[-1]['wall']:.3f}s")
            if time.perf_counter() - t_start >= self.seconds:
                break
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(p["failed"] for p in passes)
        if self.traced:
            self.collect_trace(tracer, passes)
        corpus.check_corpus(data_dir, self.seed)  # inputs left untouched
        metrics = self.metrics(passes, setup_s, rec, controls,
                               attempted, failed)
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        env = {
            "nproc": os.cpu_count(), "cores": self.cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "loadavg_start": round(load_avg0, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "cpu_steal_frac": round(ticks[1] / max(ticks[0], 1), 4),
            "floor_scan_s": statistics.median(controls),
            "passes": len(passes), "setup_s": setup_s,
            "corpus_digest": rec["digest"], "seed": self.seed,
            "samples": self.samples,
        }
        return env, {"correct": failed == 0, "attempted": attempted,
                     "failed": failed, "metrics": metrics}

    # --- metrics ----------------------------------------------------------
    def metrics(self, passes, setup_s, rec, controls, attempted,
                failed) -> dict:
        from perfbench import spans

        pass_s = statistics.median(p["wall"] for p in passes)
        if self.workload == "etl_lake":
            batches = self.wl.batches
            walls = self.wl.stream_walls
            ingest = rec["rows"] * len(walls) / sum(walls)
        else:
            # a batch pipeline with no micro-batches: its batch is one
            # pass over the corpus
            batches = [p["wall"] for p in passes]
            walls = passes
            ingest = rec["rows"] / pass_s
        # how many values each end-to-end metric summarises
        self.samples = {"setup_s": 1, "pass_s": len(passes),
                        "ingest_events_per_s": len(walls),
                        "batch_p50_s": len(batches),
                        "batch_p90_s": len(batches)}
        spec = load_spec()
        if not self.traced:
            vals = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "ingest_events_per_s": ingest,
                "batch_p50_s": statistics.median(batches),
                "batch_p90_s": p90(batches),
            }
            listed = spec["end_to_end"]
        else:
            vals = dict(self.layer)
            vals["trace.pass_s"] = pass_s
            vals["trace.passes"] = len(passes)
            vals["fail_frac"] = failed / max(attempted, 1)
            vals["control.floor_scan_s"] = statistics.median(controls)
            vals["peak_rss_mb"] = spans.rss_mb()
            listed = spec["per_layer"]
        return {m["name"]: {"value": float(vals.get(m["name"], 0.0)),
                            "unit": m["unit"]} for m in listed}

    def collect_trace(self, tracer, passes) -> None:
        """Per-layer figures from the status tracker and the REST API:
        each pass's sums, then the median over passes."""
        jobs = tracer.jobs_by_group()
        stages = tracer.stage_counters()
        total_jobs = sum(len(v) for v in jobs.values())
        unattributed = sum(len(v) for g, v in jobs.items()
                           if g not in tracer.groups_seen
                           and not g.startswith(f"{self.workload}:setup"))
        per_pass: list[dict[str, float]] = []
        gap = 0.0
        for p in passes:
            acc: dict[str, float] = {}

            def add(k, v):
                acc[k] = acc.get(k, 0.0) + v

            seen_stage: set[int] = set()
            for o in p["ops"]:
                if not math.isnan(o["build"]):
                    gap = max(gap, abs(o["wall"] - o["build"] - o["action"])
                              / max(o["wall"], 1e-9))
                add("io.clear_caches_s", o["clear"])
                add(f"{o['module']}.build_s", o["build"])
                add(f"{o['module']}.action_s", o["action"])
                for phase in ("build", "action"):
                    g = f"{self.workload}:{o['op']}:{phase}:{o['tag']}"
                    ids = jobs.get(g, [])
                    add(f"{o['module']}.{phase}_jobs", len(ids))
                    add("spark.jobs", len(ids))
                    for j in ids:
                        for s in tracer.job_stages(j):
                            if s in seen_stage or s not in stages:
                                continue
                            seen_stage.add(s)
                            for k, v in stages[s].items():
                                add(k, v)
            per_pass.append(acc)
        keys = set().union(*per_pass)
        for k in keys:
            self.layer[k] = statistics.median(a.get(k, 0.0)
                                              for a in per_pass)
        n = len(passes)
        for k, v in self.wl.layer.items():
            self.layer[k] = v / n
        jsc = self.spark.sparkContext._jsc.sc()
        # what the last op left cached behind it
        self.layer["io.persisted_rdds"] = jsc.getPersistentRDDs().size()
        self.layer["io.cached_mb"] = sum(
            s.memSize() + s.diskSize()
            for s in jsc.getRDDStorageInfo()) / 2**20
        self.layer["trace.jobs_total"] = total_jobs
        self.layer["trace.jobs_unattributed"] = unattributed
        self.layer["trace.span_gap_max"] = gap

    def close(self) -> None:
        """Drop the run's Postgres tables and temp views, stop Spark and
        the JVM, and wait for them to exit."""
        if self.wl is not None:
            try:
                self.wl.cleanup(self.spark)
            except Exception as e:
                log(f"cleanup: {type(e).__name__}: {e}")
        if self.spark is not None:
            self.spark.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin reaches EOF
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def p90(xs: list[float]) -> float:
    """The 90th percentile, interpolated between samples (one sample is
    its own percentile)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def run_pass(wl, spark, tracer, p: int, clear_caches) -> dict:
    """One pass over ``wl``'s ops: per op, clear caches, build, act and
    verify. An op that raises or fails verification counts as failed."""
    tag = f"p{p}"
    ops, failed = [], 0
    for op in wl.order(p):
        tracer.group(op.name, "clear", tag)
        w0 = time.perf_counter()
        clear_caches()
        w1 = time.perf_counter()
        try:
            b, a, out = wl.run_op(spark, op, tracer, tag)
            w2 = time.perf_counter()
            tracer.group("verify", "check", tag)
            err = wl.check(op, out)
        except Exception as e:  # counted and reported, never hidden
            w2 = time.perf_counter()
            b = a = float("nan")
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            failed += 1
            log(f"FAIL {op.name} (pass {p}): {err}")
        log(f"  {op.name}: {w2 - w0:.3f}s")
        ops.append({"op": op.name, "module": op.module, "clear": w1 - w0,
                    "build": b, "action": a, "wall": w2 - w1, "tag": tag})
    return {"ops": ops, "failed": failed,
            "wall": sum(o["clear"] + o["wall"] for o in ops)}


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    bad = [v for v in REFUSED_ENV if os.environ.get(v)]
    if bad:
        log(f"REFUSED: {', '.join(bad)} set — it switches the library onto "
            "another route or heap, so the numbers would describe a "
            "different program. Unset it and rerun.")
        return 2
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = REPO  # import perfbench.* as a package, shadow nothing
    elif REPO not in sys.path:
        sys.path.insert(0, REPO)
    try:
        import silvia_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.corpus import Refusal
    except ImportError as e:
        log(f"cannot import the program under test ({e}); run from the "
            "root of a silvia_spark checkout")
        return 3
    base = os.path.join(REPO, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SILVIA_PG_AUTOBOOT"] = "0"
    tempfile.tempdir = None
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  run_dir)
    try:
        env, result = bench.run()
    except Refusal as e:
        log(f"REFUSED: {e}")
        return 2
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
