"""silvia_spark public API — the composable, DataFrame-in/DataFrame-out
surface for users bringing THEIR OWN tables.

The repo has two API layers:

1. **Contract queries** (``silvia_spark.registry.QUERIES``): one callable
   per SURVEY.md §2 row, bound to the benchmark corpus layout
   (``(spark, sf_dir) -> DataFrame``). These are the verified,
   oracle-checked reference programs — read them as executable
   documentation of each operator's intended plan shape.
2. **This module**: the kernels those contracts are built FROM, importable
   against arbitrary DataFrames. Everything here takes/returns ordinary
   DataFrames or Column expressions, makes no assumption about the
   benchmark corpus, and carries its scale posture in its own docstring.

Composition sketches (each kernel's docstring has the details):

    from silvia_spark import api

    # near-duplicate clustering over any (doc_id, text) frame:
    pairs = api.jaccard_pairs(docs, tau=0.8)         # candidate pairs
    clusters = api.two_phase_components(pairs)       # (doc, cluster, size)

    # ANN index over any (vec_id, embedding) frame:
    buckets = api.cap_buckets(api.bucket_keys(spark, vecs), cap=100_000)
    # ... equi-join buckets with itself, verify survivors with api.cosine

    # CDC MERGE into a partitioned parquet lake table (U/D/I batch):
    api.merge_keyed(spark, "/lake/events", changes,
                    keys=["event_id", "event_type"], part_col="event_type")

    # size-aware small-file compaction of a partitioned table:
    api.compact_partitioned(spark, "/lake/events", "/lake/events_v2",
                            part_col="event_type", salt_col="event_id",
                            target_bytes=512 * 2**20)

    # nearest-direction as-of (either side of the probe, within tolerance):
    joined = api.nearest_asof(probes, quotes, on=("sym", "qsym"),
                              ts_us=("t", "qt"), left_id="probe_id",
                              right_order=["qt", "qid"], tol_us=5_000_000)

    # training-data hygiene:
    hits = api.contamination_scan(train_docs, eval_docs, n=5)
    reps = api.repetition_stats(docs, n=2)
    sample = api.reservoir_sample(df, "label", "doc_id", k=100)

    # order-independent money/metric sums (cross-engine exact):
    df.agg(api.dsum("revenue", "total_revenue"))

    # streaming ingestion (file | rate | kafka) from config:
    stream = api.source(spark, "kafka", subscribe="events",
                        **{"kafka.bootstrap.servers": "broker:9092"})
"""

from __future__ import annotations

# Session / IO -----------------------------------------------------------------
from silvia_spark.session import configure_session, get_session
from silvia_spark.io import (
    clear_caches,
    load_table,
    load_tables,
    managed_persist,
)

# Streaming source factory -----------------------------------------------------
from silvia_spark.sources.factory import source

# Lake sinks / temporal joins --------------------------------------------------
from silvia_spark.operators.scans import merge_keyed
from silvia_spark.operators.scale_patterns import (
    cluster_zorder,
    compact_partitioned,
    zorder_key,
)
from silvia_spark.operators.joins import nearest_asof

# Manifest table layer (atomic multi-partition commits, time travel) -----------
from silvia_spark.catalog import (attach_catalog, catalog_add,
                                  catalog_list, catalog_remove)
from silvia_spark.sources.delta_read import read_delta
from silvia_spark.sources.iceberg_read import read_iceberg
from silvia_spark.sources.sql_dml import (create_table_sql, delete_sql,
                                          describe_history_sql,
                                          merge_into_sql, optimize_sql,
                                          update_sql, vacuum_sql)
from silvia_spark.sources.manifest_stream import (read_stream_changes,
                                                  read_stream_table,
                                                  read_table,
                                                  register_sql_table,
                                                  register_table_view)
from silvia_spark.streaming.streams import net_changes, replicate_table
from silvia_spark.operators.manifest_table import (
    add_check_constraint,
    clone_table,
    commit_append,
    commit_compaction,
    commit_delete,
    commit_merge,
    commit_update,
    create_table,
    drop_check_constraint,
    drop_column,
    enable_cdf,
    prune_entries,
    read_change_feed,
    read_changes,
    read_snapshot,
    register_snapshot_view,
    rename_column,
    restore_table,
    set_partition_column,
    table_history,
    vacuum,
    version_at,
)

# Dedup / clustering -----------------------------------------------------------
from silvia_spark.functions.training_ops import jaccard_pairs
from silvia_spark.functions.curation_extras import (
    min_label_components,
    two_phase_components,
)

# Similarity / ANN -------------------------------------------------------------
from silvia_spark.functions.llm_ops import (
    cosine,
    cosine_expr,
    dot64,
    label_centroids,
    norm64,
)
from silvia_spark.functions.llm_extras import (
    ann_index_fresh,
    ann_join,
    bucket_keys,
    bucket_keys_probed,
    cap_buckets,
    persist_ann_index,
    sim_ann_lsh_indexed,
)

# Training-data pipeline kernels ----------------------------------------------
from silvia_spark.functions.training_extras import (
    chunk_windows,
    contamination_scan,
    knuth_draw,
    quantize_int8,
    repetition_stats,
    reservoir_sample,
    shingle_tokens,
)

# Cross-engine exact numerics --------------------------------------------------
from silvia_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum

__all__ = [
    # session / io
    "get_session", "configure_session",
    "load_table", "load_tables", "managed_persist", "clear_caches",
    # streaming
    "source",
    # lake sinks / temporal joins
    "merge_keyed", "nearest_asof", "compact_partitioned",
    "cluster_zorder", "zorder_key",
    # manifest table layer
    "create_table", "read_snapshot", "commit_merge", "commit_compaction",
    "commit_append", "commit_delete", "commit_update", "read_changes",
    "prune_entries",
    "vacuum", "rename_column", "drop_column", "set_partition_column",
    "add_check_constraint", "drop_check_constraint",
    "enable_cdf", "read_change_feed", "read_stream_changes",
    "table_history", "version_at", "restore_table", "clone_table",
    "replicate_table", "net_changes",
    "register_snapshot_view", "read_stream_table",
    "read_table", "register_table_view", "register_sql_table",
    "merge_into_sql", "update_sql", "delete_sql", "create_table_sql",
    "optimize_sql", "vacuum_sql", "describe_history_sql",
    "read_delta", "read_iceberg",
    "attach_catalog", "catalog_add", "catalog_remove", "catalog_list",
    # dedup / clustering
    "jaccard_pairs", "two_phase_components", "min_label_components",
    # similarity / ANN
    "cosine", "cosine_expr", "dot64", "norm64", "label_centroids",
    "bucket_keys", "bucket_keys_probed", "ann_join",
    "cap_buckets", "persist_ann_index", "ann_index_fresh",
    "sim_ann_lsh_indexed",
    # training-data kernels
    "shingle_tokens", "chunk_windows", "quantize_int8", "reservoir_sample",
    "knuth_draw", "contamination_scan", "repetition_stats",
    # numerics
    "dsum", "davg", "sql_dsum", "sql_davg",
]
