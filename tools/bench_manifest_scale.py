"""Manifest commit cost vs table file count (r08 verdict item 1).

The r08 manifest wrote ONE json of ALL entries per commit and pruned it
driver-side: a 1-file append against a 10⁵-file table paid O(10⁵)
metadata work — the problem Iceberg solves with a manifest-list tree
and Delta with checkpoints + log segments. r09's segmented manifests
(operators/manifest_table.py) are the fix: an append writes one new
segment (its batch) and a doc of ≤ _MAX_SEGMENTS descriptors carried by
reference.

This tool measures the segmented shape against synthetic tables of
fabricated entries (fake file paths — commit paths never open parent
data files, so the metadata cost is measured in isolation) and records:

- per-commit wall time of a real 1-row ``commit_append`` (includes the
  constant Spark staging overhead, reported separately via a baseline
  stage+adopt of the same batch);
- the bytes of manifest metadata WRITTEN per commit;
- driver peak allocation during the commit (tracemalloc).

Writes MANIFEST_SCALE.json; the findings go in SCALE.md §manifest. The
``legacy_*`` and ``migration_*`` fields of the recorded file are history:
they measured the inline-files manifest format, which no longer exists.

Run: python tools/bench_manifest_scale.py [counts...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import tracemalloc
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from silvia_spark.operators import manifest_table as mt  # noqa: E402

N_PARTS = 16
SEG_SIZE = 1000  # entries per fabricated segment
N_COMMITS = 10   # appends timed per configuration

BATCH_SCHEMA = "k BIGINT, part STRING, v DOUBLE"


def _fab_entries(n: int) -> list[dict]:
    return [{"path": f"part=p{i % N_PARTS}/part-fab{i:08d}.parquet",
             "partition": f"p{i % N_PARTS}", "rows": 1}
            for i in range(n)]


def _fab_table(n: int, schema_json: str) -> str:
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mscale_"), "tbl")
    os.makedirs(os.path.join(root, mt._MANIFESTS))
    entries = _fab_entries(n)
    segs = [mt._write_segment(root, entries[i:i + SEG_SIZE])
            for i in range(0, n, SEG_SIZE)]
    doc = mt._make_doc(1, None, segs, commit_id=uuid.uuid4().hex,
                       schema=schema_json)
    doc["part_col"] = "part"
    mt._write_doc(root, 1, doc)
    mt._flip_current(root, 1)
    return root


def _manifest_bytes(root: str, written_after: float) -> int:
    """Total bytes of manifest metadata (docs + segments) written after
    the given timestamp — the commit's metadata write amplification."""
    d = os.path.join(root, mt._MANIFESTS)
    return sum(os.path.getsize(os.path.join(d, f))
               for f in os.listdir(d)
               if os.path.getmtime(os.path.join(d, f)) >= written_after)


def main() -> None:
    counts = [int(a) for a in sys.argv[1:]] or [10_000, 100_000, 300_000]
    from silvia_spark.session import get_session

    spark = get_session("silvia_manifest_scale")
    spark.sparkContext.setLogLevel("ERROR")
    batch = spark.createDataFrame([(1, "p0", 1.0)], BATCH_SCHEMA)
    schema_json = batch.schema.json()
    batch.count()  # warm the session before any timing

    # constant Spark overhead of staging a 1-row batch (the part of a
    # commit that is NOT metadata work) — same batch, throwaway table
    base_root = os.path.join(tempfile.mkdtemp(prefix="silvia_mscale_"),
                             "tbl")
    stage_base = []
    for _ in range(N_COMMITS):
        t0 = time.perf_counter()
        mt.create_table(batch, base_root, "part")
        stage_base.append(time.perf_counter() - t0)
        shutil.rmtree(base_root)
    stage_sec = min(stage_base)

    out: dict = {"n_commits": N_COMMITS, "seg_size": SEG_SIZE,
                 "max_segments": mt._MAX_SEGMENTS,
                 "stage_overhead_sec": round(stage_sec, 4),
                 "configs": {}}
    for n in counts:
        cfg: dict = {}
        root = _fab_table(n, schema_json)
        times, bytes_, peaks = [], [], []
        for _ in range(N_COMMITS):
            mark = time.time()
            tracemalloc.start()
            t0 = time.perf_counter()
            mt.commit_append(spark, root, batch, "part")
            times.append(time.perf_counter() - t0)
            _, peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            peaks.append(peak)
            bytes_.append(_manifest_bytes(root, mark))
        cfg["segmented_commit_sec"] = [round(t, 4) for t in times]
        cfg["segmented_commit_min_sec"] = round(min(times), 4)
        cfg["segmented_metadata_bytes_per_commit"] = bytes_[-1]
        # max includes the one-time fold the first append pays on this
        # fabricated 100-uniform-segment layout; min is the steady state
        cfg["segmented_driver_peak_mb"] = round(max(peaks) / 2**20, 2)
        cfg["segmented_steady_peak_mb"] = round(min(peaks) / 2**20, 2)
        cfg["segments_after"] = len(mt._load_doc(root)["segments"])
        shutil.rmtree(os.path.dirname(root))

        out["configs"][str(n)] = cfg
        print(f"n={n}: segmented {cfg['segmented_commit_min_sec']}s "
              f"({cfg['segmented_metadata_bytes_per_commit']}B, "
              f"{cfg['segmented_driver_peak_mb']}MB peak)", flush=True)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "MANIFEST_SCALE.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"metric": "manifest_commit_scale", "ok": True,
                      "stage_overhead_sec": out["stage_overhead_sec"]}))


if __name__ == "__main__":
    main()
