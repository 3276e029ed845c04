"""Per-stage / per-partition lineage + checkpoint-resume (SURVEY §2.9, M5).

The reference's incrementality is a driver-resident ``self.sources`` set that
is lost on restart (/root/reference/graphrag_sdk/kg.py:58,104-106) plus one
log file per task (steps/extract_data_step.py:56-57,104-115). The engine
replaces both with a durable lineage table:

    lineage(run_id, stage, partition_id, rows, wall_ms, status, finished_at)

Each pipeline stage writes its output as parquet (Iceberg-shaped layout: one
directory per stage, partition column preserved) and then appends lineage
rows — one per output partition (counters) plus one ``stage_complete``
summary row. A restarted run consults lineage + the stage output marker and
*skips* every completed stage, re-reading its output instead of recomputing —
the anti-join-on-completed-work semantics required by the north rule.

Failure injection for tests: set env ``KGFORGE_FAIL_AFTER_STAGE=<name>`` and
the driver raises immediately after that stage commits, simulating a mid-run
crash between stages.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STAGE_COMPLETE = "stage_complete"
# Per-partition counter rows carry WHICH counting mode produced them
# (ADVICE r03: the footer path keys on the writer's file part index, the
# scan fallback on spark_partition_id of the re-read — different
# numberings, so rows from the two modes must not be compared as if
# interchangeable; totals agree either way). `PARTITION` stays the shared
# prefix for filters that only need "any per-partition row".
PARTITION = "partition"
PARTITION_FOOTER = "partition_footer"
PARTITION_SCAN = "partition_scan"
BUCKET_COMPLETE = "bucket_complete"


def _footer_counts(path: str) -> dict[str, int] | None:
    """Per-file row counts from parquet FOOTER metadata — no data scan.

    The write already produced the files; their footers carry exact row
    counts, so lineage counters cost one tiny metadata read per file
    instead of a second full pass over the stage output (VERDICT r02 #3:
    harmless at sf0.1, a real tax at 100 TB). Returns None when footers
    are unreachable (object store without a local mount, torn file) so the
    caller can fall back to the scan; a cluster deployment would swap this
    for the write's task metrics via a QueryExecutionListener, same idea.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in here
        return None
    counts: dict[str, int] = {}
    try:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet") and not f.startswith("."):
                    p = os.path.join(root, f)
                    counts[p] = pq.ParquetFile(p).metadata.num_rows
    except Exception:
        return None
    return counts


def _counts_by(path: str, key_of) -> dict[int, int] | None:
    """Footer row counts summed per `key_of(file)` (files keyed None are
    skipped); None when footers are unreachable."""
    footer = _footer_counts(path)
    if footer is None:
        return None
    counts: dict[int, int] = {}
    for p, c in footer.items():
        k = key_of(p)
        if k is not None:
            counts[k] = counts.get(k, 0) + c
    return counts


def _bucket_of(file_path: str) -> int | None:
    """.../bucket=7/part-... -> 7 (None for an unpartitioned file)."""
    m = re.search(r"bucket=(\d+)", file_path)
    return int(m.group(1)) if m else None


def _part_index(file_path: str) -> int:
    """part-00012-<uuid>... -> 12 (the writer task's partition index)."""
    name = os.path.basename(file_path)
    try:
        return int(name.split("-")[1])
    except (IndexError, ValueError):
        return -1


@dataclass
class RunContext:
    spark: SparkSession
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.out_dir, "_lineage")

    # ---------------------------------------------------------------- io
    def stage_path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _lineage_df(self) -> DataFrame | None:
        path = self.lineage_dir
        if not os.path.isdir(path):
            return None
        try:
            return self.spark.read.parquet(path)
        except Exception:
            return None

    def lineage(self) -> DataFrame | None:
        return self._lineage_df()

    def stage_complete(self, name: str) -> bool:
        if not os.path.exists(os.path.join(self.stage_path(name), "_SUCCESS")):
            return False
        lin = self._lineage_df()
        if lin is None:
            return False
        n = (
            lin.filter(
                (F.col("stage") == name) & (F.col("status") == STAGE_COMPLETE)
            )
            .limit(1)
            .count()
        )
        return n > 0

    def _append_lineage(self, rows: list[tuple]) -> None:
        df = self.spark.createDataFrame(
            rows,
            "run_id string, stage string, partition_id int, rows long, "
            "wall_ms long, status string, finished_at double",
        )
        df.coalesce(1).write.mode("append").parquet(self.lineage_dir)

    def _commit(
        self, name: str, status: str, counts: dict[int, int], total: int,
        t0: float,
    ) -> None:
        """Record a written stage: one `status` counter row per partition
        or bucket in `counts`, then the stage_complete row carrying `total`
        (one lineage append); then the injected-failure check."""
        wall_ms = int((time.monotonic() - t0) * 1000)
        now = time.time()
        rows = [
            (self.run_id, name, pid, c, wall_ms, status, now)
            for pid, c in sorted(counts.items())
        ]
        rows.append(
            (self.run_id, name, -1, int(total), wall_ms, STAGE_COMPLETE, now)
        )
        self._append_lineage(rows)
        if os.environ.get("KGFORGE_FAIL_AFTER_STAGE") == name:
            raise RuntimeError(f"injected failure after stage '{name}'")

    # ---------------------------------------------------------------- api
    def run_stage(
        self,
        name: str,
        build: "callable",
        repartition_col: str | None = None,
        num_partitions: int | None = None,
    ) -> DataFrame:
        """Compute-or-reuse one stage.

        `build()` -> DataFrame is only invoked when the stage is incomplete.
        Output layout: parquet under ``out_dir/<name>``; when
        `repartition_col` is set the data is hash-repartitioned on it first
        (url_host bucketing analogue for the local run).
        """
        path = self.stage_path(name)
        if self.stage_complete(name):
            return self.spark.read.parquet(path)

        t0 = time.monotonic()
        df = build()
        if repartition_col is not None:
            n = num_partitions or self.spark.sparkContext.defaultParallelism
            df = df.repartition(n, F.col(repartition_col))
        df.write.mode("overwrite").parquet(path)

        out = self.spark.read.parquet(path)
        per_part = _counts_by(path, _part_index)
        mode = PARTITION_FOOTER
        if per_part is None:  # metadata unreachable -> the old one-pass scan
            mode = PARTITION_SCAN
            per_part = {
                int(r["partition_id"]): int(r["count"])
                for r in out.groupBy(
                    F.spark_partition_id().alias("partition_id")
                )
                .count()
                .collect()
            }
        self._commit(name, mode, per_part, sum(per_part.values()), t0)
        return out

    def run_stage_bucketed(
        self,
        name: str,
        input_df: DataFrame,
        transform: "callable",
        bucket_col: str = "url",
        n_buckets: int = 64,
    ) -> DataFrame:
        """Compute-or-resume one stage at BUCKET granularity.

        The input is hashed into `n_buckets` buckets on `bucket_col`;
        `transform(df)` must preserve that column. Completed buckets are
        recorded in lineage (`status='bucket_complete'`) and skipped on
        restart — the anti-join-on-completed-work semantics at sub-stage
        granularity, so a crash mid-stage only recomputes the buckets whose
        lineage never committed. Partially-written buckets are safe:
        dynamic partition overwrite replaces exactly the re-run buckets.
        """
        path = self.stage_path(name)
        bucket = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
        # dynamic partition overwrite emits no root _SUCCESS marker; the
        # lineage stage_complete row alone is the commit record here
        lin = self._lineage_df()
        marks = [] if lin is None else (
            lin.filter(
                (F.col("stage") == name)
                & F.col("status").isin(STAGE_COMPLETE, BUCKET_COMPLETE)
            )
            .select("status", "partition_id")
            .collect()
        )
        if any(r["status"] == STAGE_COMPLETE for r in marks):
            return self.spark.read.parquet(path).drop("bucket")
        done = {r["partition_id"] for r in marks}
        todo = input_df.withColumn("bucket", bucket)
        if done:
            todo = todo.filter(~F.col("bucket").isin(*[int(b) for b in done]))

        t0 = time.monotonic()
        wrote = not todo.isEmpty()
        if wrote:
            out = transform(todo.drop("bucket")).withColumn("bucket", bucket)
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(path)
            )
            try:
                self.spark.read.parquet(path)
            except AnalysisException:
                # a dynamic-partitioned write of an EMPTY stage output
                # leaves no readable footer (unlike plain writes,
                # SPARK-23271): write the empty schema plainly so
                # downstream reads see an empty-but-typed stage. Checked
                # here rather than pre-checking out.isEmpty(), which would
                # cost a partial evaluation of the transform on every
                # non-empty stage too.
                out.limit(0).write.mode("overwrite").parquet(path)
        final = self.spark.read.parquet(path)
        per_bucket = _counts_by(path, _bucket_of)  # footers, not a re-scan
        if per_bucket is None:
            per_bucket = {
                int(r["bucket"]): int(r["count"])
                for r in final.groupBy("bucket").count().collect()
            }
        new = {b: c for b, c in per_bucket.items() if b not in done}
        self._commit(
            name, BUCKET_COMPLETE, new if wrote else {},
            sum(per_bucket.values()), t0,
        )
        # the stage_complete row makes subsequent runs short-circuit
        return final.drop("bucket")

    def stage_buckets(self, name: str) -> dict[int, str]:
        """bucket -> run_id that completed it (resume-evidence helper)."""
        lin = self._lineage_df()
        if lin is None:
            return {}
        return {
            int(r["partition_id"]): r["run_id"]
            for r in lin.filter(
                (F.col("stage") == name)
                & (F.col("status") == BUCKET_COMPLETE)
            ).select("partition_id", "run_id").collect()
        }

    def stage_runs(self, name: str) -> list[str]:
        """run_ids that produced a stage_complete record for `name`."""
        lin = self._lineage_df()
        if lin is None:
            return []
        return [
            r["run_id"]
            for r in lin.filter(
                (F.col("stage") == name) & (F.col("status") == STAGE_COMPLETE)
            )
            .select("run_id")
            .collect()
        ]
