"""M3/M5: end-to-end pipeline — P/R gate, determinism, kill-and-resume."""

import os

import pytest
from pyspark.sql import functions as F

from kgforge.plans.pipeline import build_graph, run_pipeline
from kgforge.sources.pages import (
    corpus_to_spark,
    generate_corpus,
    movies_ontology,
)

TRIPLE_COLS = ["subj_label", "subj_key", "pred", "obj_label", "obj_key"]


def _triples_set(df):
    return {tuple(r) for r in df.select(*TRIPLE_COLS).collect()}


def _hash(df):
    """Order-insensitive content hash of the triples table."""
    return (
        df.select(F.sha2(F.concat_ws("\x01", *TRIPLE_COLS), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(n_pages=60, seed=42)


def test_e2e_pr_gate(spark, corpus, workdir):
    pages, gold_triples, gold_nodes = corpus_to_spark(spark, corpus)
    out = run_pipeline(spark, pages, movies_ontology(), workdir)
    pred = _triples_set(out["triples"])
    gold = _triples_set(
        gold_triples.withColumnRenamed("props", "_p")
    )
    tp = len(pred & gold)
    precision = tp / max(1, len(pred))
    recall = tp / len(gold)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"

    # node check: gold nodes all materialized with canonical keys
    got_nodes = {
        (r["label"], r["key"]) for r in out["nodes"].select("label", "key").collect()
    }
    want_nodes = {
        (n["label"], n["key"]) for n in corpus.nodes
    }
    missing = want_nodes - got_nodes
    assert len(missing) / len(want_nodes) <= 0.05, f"missing nodes: {missing}"

    # edge props survive (ACTED_IN role)
    roles = (
        out["triples"]
        .filter(F.col("pred") == "ACTED_IN")
        .select(F.element_at("props", "role").alias("role"))
        .filter(F.col("role").isNotNull())
        .count()
    )
    assert roles > 0

    # last-write-wins dedup: duplicate url re-crawls must not duplicate nodes
    n_nodes = out["nodes"].count()
    n_distinct = out["nodes"].select("label", "key").distinct().count()
    assert n_nodes == n_distinct

    # the in-memory build composes the same stages: same graph
    mem = build_graph(spark, pages, movies_ontology())
    assert _triples_set(mem["triples"]) == pred
    assert {
        (r["label"], r["key"])
        for r in mem["nodes"].select("label", "key").collect()
    } == got_nodes
    mem["unpersist"]()


def test_determinism_two_runs(spark, corpus, tmp_path):
    pages, _, _ = corpus_to_spark(spark, corpus)
    o1 = run_pipeline(spark, pages, movies_ontology(), str(tmp_path / "r1"))
    o2 = run_pipeline(spark, pages, movies_ontology(), str(tmp_path / "r2"))
    assert _hash(o1["triples"]) == _hash(o2["triples"])
    assert _triples_set(o1["triples"]) == _triples_set(o2["triples"])


def test_kill_and_resume(spark, corpus, tmp_path):
    """Crash after stage 02; resume must (a) reproduce the uninterrupted
    output exactly and (b) not recompute completed stages (lineage shows a
    single run_id for them)."""
    pages, _, _ = corpus_to_spark(spark, corpus)
    clean = run_pipeline(spark, pages, movies_ontology(), str(tmp_path / "clean"))
    clean_set = _triples_set(clean["triples"])

    crash_dir = str(tmp_path / "crash")
    os.environ["KGFORGE_FAIL_AFTER_STAGE"] = "02_ir"
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_pipeline(spark, pages, movies_ontology(), crash_dir)
    finally:
        del os.environ["KGFORGE_FAIL_AFTER_STAGE"]

    resumed = run_pipeline(spark, pages, movies_ontology(), crash_dir)
    assert _triples_set(resumed["triples"]) == clean_set

    # completed-before-crash stages ran exactly once (no recompute)
    ctx = resumed["ctx"]
    assert len(ctx.stage_runs("01_text")) == 1
    assert len(ctx.stage_runs("02_ir")) == 1
    # post-crash stages ran in the resume run
    assert len(ctx.stage_runs("08_triples")) == 1

    # lineage carries per-partition counters
    lin = ctx.lineage()
    parts = lin.filter(
        (F.col("stage") == "01_text")
        & F.col("status").startswith("partition")
    )
    assert parts.count() >= 1
    total = lin.filter(
        (F.col("stage") == "01_text") & (F.col("status") == "stage_complete")
    ).collect()[0]["rows"]
    assert total == parts.agg(F.sum("rows")).collect()[0][0]
