"""Bloom-filter file skipping (sinks/bloomskip.py): sidecar build,
driver-side bit replay vs the Spark bloom, soundness (no false
negatives) and real pruning on real parquet files."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kgforge.sinks.bloomskip import (
    _bit_addrs,
    build_file_blooms,
    prune_files,
    read_pruned,
)


def _write_corpus(spark, path, n_files=8, rows_per=50):
    # user_id is high-cardinality and file-local: file f holds ids
    # [f*rows_per, (f+1)*rows_per) — a point lookup should prune to 1
    df = (
        spark.range(0, n_files * rows_per)
        .withColumn("user_id", F.concat(F.lit("u"), F.col("id")))
        .withColumn("payload", F.col("id") * 3)
    )
    df.repartitionByRange(n_files, "id").write.parquet(path)
    return df


def test_bit_addrs_replays_spark_bloom_bit(spark):
    from kgforge.functions.sketch import bloom_bit

    vals = ["u7", "u123", "x", "42"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = df.select(
        "v", *[bloom_bit(F.col("v"), i, 4096).alias(f"b{i}") for i in range(4)]
    ).collect()
    for r in got:
        assert _bit_addrs(r.v, 4, 4096) == [r.b0, r.b1, r.b2, r.b3]


def test_prune_is_sound_and_actually_prunes(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _write_corpus(spark, path)
    build_file_blooms(spark, path, "user_id")
    n_files = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    assert n_files == 8
    pruned_counts = []
    for probe in ["u7", "u111", "u399", "u0"]:
        keep = prune_files(spark, path, probe)
        pruned_counts.append(len(keep))
        # soundness: the row is in a kept file
        got = read_pruned(spark, path, "user_id", probe).collect()
        assert len(got) == 1 and got[0].user_id == probe
    # pruning is real: every probe reads fewer than all files
    assert all(c < n_files for c in pruned_counts)


def test_absent_value_reads_nothing_or_fp_files_only(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    _write_corpus(spark, path, n_files=4)
    build_file_blooms(spark, path, "user_id")
    out = read_pruned(spark, path, "user_id", "nope-123").collect()
    assert out == []  # the row filter removes any false-positive files


def test_unindexed_files_are_kept(spark, tmp_path):
    # append a file AFTER the sidecar build: pruning must keep it
    path = str(tmp_path / "tbl3")
    _write_corpus(spark, path, n_files=4)
    build_file_blooms(spark, path, "user_id")
    extra = spark.createDataFrame(
        [(9999, "late-user", 0)], "id long, user_id string, payload long"
    )
    extra.coalesce(1).write.mode("append").parquet(path)
    got = read_pruned(spark, path, "user_id", "late-user").collect()
    assert len(got) == 1 and got[0].user_id == "late-user"


def test_colliding_bit_addresses_keep_the_file(spark, tmp_path):
    """A value whose k addresses collide mod m_bits sets fewer than k
    distinct bits; the file holding it must still be kept (requiring k
    distinct hits would prune it — a false negative)."""
    m_bits, k = 16, 4
    value = next(
        v for v in (f"u{i}" for i in range(200))
        if len(set(_bit_addrs(v, k, m_bits))) < k
    )
    path = str(tmp_path / "tbl_collide")
    _write_corpus(spark, path, n_files=4)
    build_file_blooms(spark, path, "user_id", m_bits=m_bits, k=k)
    got = read_pruned(spark, path, "user_id", value).collect()
    assert len(got) == 1 and got[0].user_id == value
