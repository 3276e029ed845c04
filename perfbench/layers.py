"""Which program functions the traced run wraps, and the per-layer metrics.

Layer names are the program's module names. `PER_LAYER` is the fixed list
of per-layer metrics every traced run prints (a layer a workload never
enters reports 0, which is itself the check that it was bypassed);
BENCHMARK.json lists the same names and units.
"""

from __future__ import annotations

import statistics

import pandas as pd
from pyspark.sql import functions as F

STAGES = (
    "01_text", "02_ir", "03_mentions", "04_raw_edges",
    "05_links", "06_nodes", "07_edges", "08_triples",
)

PER_LAYER = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.html.busy_s", "s"),
    ("sources.html.rows", "count"),
    ("sources.html.mb_in", "MB"),
    ("operators.extract.busy_s", "s"),
    ("operators.extract.rows", "count"),
    ("operators.extract.entities_out", "count"),
    ("operators.extract.relations_out", "count"),
    ("operators.normalize.busy_s", "s"),
    ("operators.normalize.mentions_in", "count"),
    ("operators.normalize.valid_frac", "ratio"),
    ("operators.link.busy_s", "s"),
    ("operators.link.names", "count"),
    ("operators.link.verified_pairs", "count"),
    ("operators.link.spark_jobs", "count"),
    ("operators.link.spark_tasks", "count"),
    ("operators.canon.busy_s", "s"),
    ("operators.canon.spark_jobs", "count"),
    ("operators.canon.components", "count"),
    ("operators.materialize.busy_s", "s"),
    ("operators.materialize.nodes_out", "count"),
    ("operators.materialize.edges_out", "count"),
    ("operators.materialize.node_dedup_ratio", "ratio"),
    ("plans.lineage.busy_s", "s"),
    ("plans.lineage.rerun_spark_jobs", "count"),
    *((f"plans.lineage.wall_ms.{s}", "ms") for s in STAGES),
    ("plans.cypher_validate.busy_ms", "ms"),
    ("plans.cypher_exec.plan_ms", "ms"),
    ("plans.cypher_exec.exec_ms", "ms"),
    ("plans.cypher_exec.spark_jobs", "count"),
    ("kg.add_nodes.busy_ms", "ms"),
    ("kg.add_edges.busy_ms", "ms"),
    ("kg.rows_rewritten", "count"),  # node + edge table rows per upsert
    ("kg.edges_valid_frac", "ratio"),
    ("trace.spans", "count"),
    ("trace.untraced_s", "s"),
    ("trace.traced_s", "s"),
    ("trace.overhead_s", "s"),
]


# ------------------------------------------------------------------ build
def instrument_build(tracer, spark) -> dict:
    """Spans around every layer `run_pipeline` calls into. The operator
    functions are looked up as module attributes at call time (including
    `canon.connected_components` and `link.candidate_pairs` inside
    `link.link_map`), so replacing the attribute is enough. Returns the
    html->text UDF's accumulators."""
    from kgforge.operators import canon, extract, link, materialize, normalize
    from kgforge.plans import lineage, pipeline

    c = tracer.count

    def on_ir(out, args, kwargs):
        r = out.select(
            F.count("*"), F.sum(F.size("entities")), F.sum(F.size("relations"))
        ).first()
        c("operators.extract.rows", r[0])
        c("operators.extract.entities_out", r[1] or 0)
        c("operators.extract.relations_out", r[2] or 0)

    def on_validate(out, args, kwargs):
        c("normalize.valid", out[0].count())
        c("normalize.quarantined", out[1].count())

    def on_pairs(out, args, kwargs):
        c("operators.link.names", args[0].count())
        c("operators.link.verified_pairs", out.count())

    def on_cc(out, args, kwargs):
        c("operators.canon.components",
          out.select("component").distinct().count())

    tracer.instrument(
        extract, "extract_ir", "operators.extract", on_result=on_ir
    )
    tracer.instrument(
        extract, "explode_ir", "operators.normalize",
        on_result=lambda out, a, k: c(
            "operators.normalize.mentions_in", out[0].count()
        ),
    )
    for fn in ("sanitize_mentions", "sanitize_edges", "filter_to_ontology"):
        tracer.instrument(normalize, fn, "operators.normalize")
    tracer.instrument(
        normalize, "validate_attributes", "operators.normalize",
        on_result=on_validate,
    )
    tracer.instrument(link, "link_map", "operators.link")
    tracer.instrument(
        link, "candidate_pairs", "operators.link", on_result=on_pairs
    )
    tracer.instrument(
        canon, "connected_components", "operators.canon", on_result=on_cc
    )
    tracer.instrument(
        materialize, "apply_link_map", "operators.materialize",
        on_result=lambda out, a, k: c("materialize.mentions_in", out[0].count()),
    )
    tracer.instrument(
        materialize, "build_nodes", "operators.materialize",
        on_result=lambda out, a, k: c(
            "operators.materialize.nodes_out", out.count()
        ),
    )
    tracer.instrument(
        materialize, "build_edges", "operators.materialize",
        on_result=lambda out, a, k: c(
            "operators.materialize.edges_out", out.count()
        ),
    )
    tracer.instrument(materialize, "triples_view", "operators.materialize")

    # Stage spans: each stage already commits its output to parquet inside
    # the call, so nothing extra is forced. Stage 01 has no operator call
    # to wrap (the html->text UDF is a column expression), so its self
    # time is the sources.html layer; the other stages' self time is
    # lineage bookkeeping plus the parquet writes.
    def stage_layer(args):
        return "sources.html" if args[1] == "01_text" else "plans.lineage"

    for fn in ("run_stage", "run_stage_bucketed"):
        tracer.instrument(lineage.RunContext, fn, stage_layer, force=False)
    tracer.instrument(pipeline, "run_pipeline", "plans.pipeline", force=False)
    udf, accumulators = _counting_text_udf(spark)
    tracer.replace(pipeline, "extract_text_udf", udf)
    return accumulators


def _counting_text_udf(spark):
    """The html->text UDF with accumulators for the rows and bytes it
    reads on the Python workers."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from kgforge.sources import html

    sc = spark.sparkContext
    rows, nbytes = sc.accumulator(0), sc.accumulator(0)
    base = html.extract_text_udf.func

    def counted_text_udf(col: pd.Series) -> pd.Series:
        rows.add(len(col))
        nbytes.add(int(sum(len(h) for h in col if h is not None)))
        return base(col)

    return pandas_udf(counted_text_udf, StringType()), {
        "rows": rows, "bytes": nbytes,
    }


def build_layer_metrics(tracer, accumulators: dict, build_root: dict,
                        rerun_root: dict, lineage_rows: list) -> dict[str, float]:
    """Per-layer metrics of one traced build (+ its traced rerun)."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    totals = tracer.layer_totals(build_root)
    for layer in ("sources.html", "operators.extract", "operators.normalize",
                  "operators.link", "operators.canon",
                  "operators.materialize", "plans.lineage"):
        m[f"{layer}.busy_s"] = totals.get(layer, {}).get("busy_s", 0.0)
    link = totals.get("operators.link", {})
    m["operators.link.spark_jobs"] = link.get("spark_jobs", 0)
    m["operators.link.spark_tasks"] = link.get("spark_tasks", 0)
    m["operators.canon.spark_jobs"] = totals.get(
        "operators.canon", {}).get("spark_jobs", 0)
    for key in ("operators.extract.rows", "operators.extract.entities_out",
                "operators.extract.relations_out",
                "operators.normalize.mentions_in", "operators.link.names",
                "operators.link.verified_pairs", "operators.canon.components",
                "operators.materialize.nodes_out",
                "operators.materialize.edges_out"):
        m[key] = tracer.counts.get(key, 0)
    valid = tracer.counts.get("normalize.valid", 0)
    quarantined = tracer.counts.get("normalize.quarantined", 0)
    m["operators.normalize.valid_frac"] = (
        valid / (valid + quarantined) if valid + quarantined else 0.0
    )
    nodes = m["operators.materialize.nodes_out"]
    m["operators.materialize.node_dedup_ratio"] = (
        tracer.counts.get("materialize.mentions_in", 0) / nodes if nodes else 0.0
    )
    m["sources.html.rows"] = accumulators["rows"].value
    m["sources.html.mb_in"] = accumulators["bytes"].value / 1e6
    rerun = tracer.layer_totals(rerun_root)
    m["plans.lineage.rerun_spark_jobs"] = sum(
        t["spark_jobs"] for t in rerun.values()
    )
    for stage, wall_ms in lineage_rows:
        m[f"plans.lineage.wall_ms.{stage}"] = wall_ms
    m["trace.spans"] = len(tracer.spans)
    return m


# ------------------------------------------------------------------ serve
def instrument_serve(tracer) -> None:
    """Spans around the read path (validate, plan) and the upserts; the
    read's collect is timed by the serve loop as the exec span."""
    from kgforge import kg
    from kgforge.plans import cypher_exec, cypher_validate

    def on_edges(out, args, kwargs):
        tracer.count("kg.edges_attempted", len(args[1]))
        tracer.count("kg.edges_valid", out)
        tracer.count("kg.rows_rewritten", args[0].edges().count())

    tracer.instrument(
        cypher_validate, "validate_cypher", "plans.cypher_validate",
        force=False,
    )
    tracer.instrument(
        cypher_exec, "run_cypher", "plans.cypher_exec.plan", force=False
    )
    tracer.instrument(
        kg.KnowledgeGraph, "add_nodes", "kg.add_nodes",
        on_result=lambda out, a, k: tracer.count(
            "kg.rows_rewritten", a[0].nodes().count()
        ),
    )
    tracer.instrument(
        kg.KnowledgeGraph, "add_edges", "kg.add_edges", on_result=on_edges
    )


def serve_layer_metrics(tracer, loop_root: dict) -> dict[str, float]:
    """Per-call medians of the traced serve loop."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    self_s = tracer.self_times()
    by_layer: dict[str, list[dict]] = {}
    for s in tracer.subtree(loop_root):
        by_layer.setdefault(s["layer"], []).append(s)

    def med_ms(layer):
        spans = by_layer.get(layer, [])
        return (statistics.median(self_s[s["id"]] for s in spans) * 1e3
                if spans else 0.0)

    m["plans.cypher_validate.busy_ms"] = med_ms("plans.cypher_validate")
    m["plans.cypher_exec.plan_ms"] = med_ms("plans.cypher_exec.plan")
    m["plans.cypher_exec.exec_ms"] = med_ms("plans.cypher_exec.exec")
    m["kg.add_nodes.busy_ms"] = med_ms("kg.add_nodes")
    m["kg.add_edges.busy_ms"] = med_ms("kg.add_edges")
    reads = by_layer.get("serve.read", [])
    if reads:
        jobs = [
            sum(tracer.spark_work(s)[0] for s in tracer.subtree(r)
                if s["layer"].startswith("plans.cypher_exec"))
            for r in reads
        ]
        m["plans.cypher_exec.spark_jobs"] = statistics.median(jobs)
    attempted = tracer.counts.get("kg.edges_attempted", 0)
    m["kg.edges_valid_frac"] = (
        tracer.counts.get("kg.edges_valid", 0) / attempted if attempted else 0.0
    )
    writes = len(by_layer.get("serve.write", []))
    m["kg.rows_rewritten"] = (
        tracer.counts.get("kg.rows_rewritten", 0) / writes if writes else 0.0
    )
    m["trace.spans"] = len(tracer.spans)
    return m
