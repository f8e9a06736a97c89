"""Hand-fabricated manifest claims for the protocol tests: tables built
from marker files and hand-written docs, no Spark staging — in the one
manifest format every commit writes (``_make_doc``'s segments, schema,
part_col and ts)."""

from __future__ import annotations

from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from silvia_spark.operators import manifest_table as mt

# the ``k BIGINT, part STRING, v DOUBLE`` shape the tests fabricate
SCHEMA = StructType([StructField("k", LongType()),
                     StructField("part", StringType()),
                     StructField("v", DoubleType())]).json()


def write_manifest(root: str, version: int, entries: list[dict],
                   parent: int | None, occ: bool = False) -> None:
    """Claim ``version`` with a doc listing ``entries`` (one segment, or
    none when empty), partitioned by ``part``. Raises FileExistsError
    exactly as a commit's claim does (``_write_doc``)."""
    segs = [mt._write_segment(root, entries)] if entries else []
    doc = mt._make_doc(version, parent, segs, schema=SCHEMA)
    doc["part_col"] = "part"
    mt._write_doc(root, version, doc, occ=occ)
