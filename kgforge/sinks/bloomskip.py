"""Bloom-filter data skipping: per-file sidecar blooms + scan pruning.

Parquet footers give min/max zone maps — great for range predicates on
clustered columns (`sinks/bucketed.py` range layout, `sinks/zorder.py`),
useless for point lookups on high-cardinality unclustered columns
(`WHERE url = ...` over a corpus laid out by crawl time touches every
file). The lakehouse answer is a per-file Bloom filter consulted before
the scan: no false negatives, so pruning is sound; false positives only
cost reading an extra file. Parquet has built-in bloom pages since 2.4
and Delta/Iceberg ship the same idea as sidecar indexes — this module is
that capability over plain parquet dirs, built on the oracle-exact
`functions/sketch.py` bloom (seed-prefixed md5 bits, driver-replayable
with hashlib — pinned in tests).

Shape at scale: building the sidecar is ONE distributed scan of the
written files (`input_file_name` as the group key, exploded-seed bit
set per `sketch.bloom_build`, map-side partial dedup; state per task is
files_in_task × m_bits). The sidecar itself is metadata-scale (one row
per (file, set bit) — ~k·n_distinct_per_file rows max, stored as one
small parquet). Pruning a query is a driver-side replay of the k bit
addresses (hashlib md5 — no Spark job at all) against the loaded
sidecar, returning the file list to scan; `read_pruned` hands exactly
those paths to `spark.read.parquet`.

Reference scope: engine-new (the SDK has no storage layer); completes
the layout family bucketed/zorder/compact.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.functions.sketch import _CM_HEX, bloom_build

_SIDECAR = "_bloom_sidecar"


def _bit_addrs(value, k: int, m_bits: int) -> list[int]:
    """Driver-side replay of `sketch.bloom_bit`: md5('bf<i>|' || v)
    first 12 hex chars as an int, mod m_bits."""
    out = []
    for i in range(k):
        h = hashlib.md5(f"bf{i}|{value}".encode("utf-8")).hexdigest()
        out.append(int(h[:_CM_HEX], 16) % m_bits)
    return out


def build_file_blooms(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 4096,
    k: int = 4,
) -> str:
    """Build the per-file bloom sidecar for `col` over every parquet
    file under `path`; writes `<path>/_bloom_sidecar/` (one small
    parquet of (file, bit) rows plus the (col, m_bits, k) params) and
    returns the sidecar dir. One distributed scan; rerun after appends
    to refresh."""
    df = spark.read.parquet(path).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
            "file"
        ),
        F.col(col).alias("v"),
    )
    bits = bloom_build(df, "file", "v", m_bits=m_bits, k=k)
    side = os.path.join(path, _SIDECAR)
    bits.withColumns(
        {
            "col": F.lit(col),
            "m_bits": F.lit(m_bits),
            "k": F.lit(k),
        }
    ).coalesce(1).write.mode("overwrite").parquet(side)
    return side


def prune_files(spark: SparkSession, path: str, value) -> list[str]:
    """Files under `path` that MIGHT contain `value` in the sidecar's
    column (no false negatives). Driver-side bit replay + one
    metadata-scale sidecar read; files absent from the sidecar are kept
    (sound for appends between sidecar refreshes)."""
    side = spark.read.parquet(os.path.join(path, _SIDECAR))
    params = side.select("m_bits", "k").first()
    addrs = _bit_addrs(value, params["k"], params["m_bits"])
    hit = (
        side.filter(F.col("bit").isin(addrs))
        .groupBy("file")
        .agg(F.count_distinct("bit").alias("nh"))
        # k addresses can collide mod m_bits: a file holding the value
        # sets only the DISTINCT ones
        .filter(F.col("nh") == len(set(addrs)))
        .select("file")
        .collect()
    )
    indexed = {
        r["file"] for r in side.select("file").distinct().collect()
    }
    keep = {r["file"] for r in hit}
    all_files = sorted(
        e.name
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    )
    return [f for f in all_files if f not in indexed or f in keep]


def read_pruned(
    spark: SparkSession, path: str, col: str, value
) -> DataFrame:
    """`spark.read.parquet` over only the files whose bloom might hold
    `value`, with the `col = value` filter applied (the bloom prunes
    FILES; the filter still prunes rows). Empty file list returns an
    empty frame with the table's schema."""
    files = prune_files(spark, path, value)
    base = spark.read.parquet(path)
    if not files:
        return base.limit(0).filter(F.col(col) == F.lit(value))
    return spark.read.schema(base.schema).parquet(
        *[os.path.join(path, f) for f in files]
    ).filter(F.col(col) == F.lit(value))
