"""End-to-end KG-construction pipeline (the reference's EP1, Spark-first).

Replaces /root/reference/graphrag_sdk/kg.py:88-119 +
steps/extract_data_step.py — where the reference flattens the whole corpus in
driver memory, fans out to 16 threads, and issues one LLM call + O(entities)
serial DB round-trips per document — with a staged DataFrame dataflow:

    pages --(S3 text UDF)--> text --(L3 rules UDF)--> IR
      --explode/normalize (P1-P8, J6/J7)--> mentions, raw_edges
      --J8 LSH linking + J9 CC--> link map
      --A1/A2 dedup + J1 resolution--> nodes, edges --> triples

Each step is defined once, as a private function below (`_text`, `_ir`,
`_normalize`, `_links`, `_nodes`, `_key_attr_by_label`). Every composition
calls them: `run_pipeline` commits each stage to parquet with lineage
(plans/lineage.py), so a rerun resumes after the last complete stage;
`build_graph` runs the same sequence with `persist()` in place of commits;
`KnowledgeGraph.rematerialize` and the streaming face
(streaming/incremental.py) call the same functions. The compositions agree
because they share the code, not because it was copied.

Scale notes (SURVEY §4): the `html` column dies at the first stage; text
stages repartition on url_host (bucket analogue); linking joins key on
(label, band) — never a cross product; node/edge dedup is a hash aggregate
with map-side partial agg; AQE handles skew splits and `hot_keys` salting is
available in operators/skew.py for the heavy-hitter node ids.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.ontology import Ontology
from kgforge.operators import extract, link, materialize, normalize
from kgforge.plans.lineage import RunContext
from kgforge.sources.html import extract_text_udf


# ------------------------------------------------------------ stages
def _key_attr_by_label(rules: dict) -> dict[str, str]:
    """label -> the unique attribute that carries the node key."""
    return {
        label: spec["key_attr"]
        for label, spec in rules["entities"].items()
        if spec["key_attr"]
    }


def _text(
    pages: DataFrame,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> DataFrame:
    """pages -> (url, warc_ts, text, lang[, html]).

    bs4-parity extraction from `html` when the page has html (the
    byte-identical-per-url invariant); pages without html (text-only
    loaders, pre-extracted corpora) keep their `text`. Template wrappers
    read DOM structure, so with `wrappers` the `html` column rides through
    to the extraction UDF instead of dying here."""
    if lang_filter:
        pages = pages.filter(F.col("lang").isin(lang_filter))
    text = extract_text_udf(F.col("html"))
    if "text" in pages.columns:
        text = F.when(F.col("html").isNotNull(), text).otherwise(F.col("text"))
    html_keep = ["html"] if wrappers else []
    return pages.select("url", "warc_ts", text.alias("text"), "lang", *html_keep)


def _ir(text_df: DataFrame, rules: dict, wrappers: list | None = None):
    """text -> extraction IR (document-local coreference happens inside the
    extraction UDF: extract._resolve_local_aliases — zero extra stages)."""
    return extract.extract_ir(
        text_df,
        rules,
        keep_cols=["url", "warc_ts"],
        wrappers=wrappers,
        html_col="html" if wrappers else None,
    )


def _normalize(ir_df: DataFrame, onto: Ontology):
    """IR -> (valid mentions, quarantined mentions, raw edges): explode,
    sanitize, keep what the ontology declares, type-check attributes."""
    mentions, raw_edges = extract.explode_ir(ir_df)
    mentions, raw_edges = normalize.filter_to_ontology(
        normalize.sanitize_mentions(mentions),
        normalize.sanitize_edges(raw_edges),
        onto,
        ir_df.sparkSession,
    )
    valid, quarantine = normalize.validate_attributes(mentions, onto)
    return valid, quarantine, raw_edges


def _links(mentions: DataFrame, raw_edges: DataFrame) -> DataFrame:
    """Link map over every name a node or an edge endpoint uses."""
    names = mentions.select("label", "key")
    for side in ("src", "dst"):
        names = names.unionByName(
            raw_edges.select(
                F.col(f"{side}_label").alias("label"),
                F.col(f"{side}_key").alias("key"),
            )
        )
    return link.link_map(names)


def _nodes(
    mentions: DataFrame,
    raw_edges: DataFrame,
    links: DataFrame,
    key_attr_by_label: dict[str, str],
):
    """-> (nodes, link-resolved raw edges). Callers build the edges with
    `materialize.build_edges` against their committed copy of the nodes."""
    mentions_c, edges_c = materialize.apply_link_map(mentions, raw_edges, links)
    return materialize.build_nodes(mentions_c, key_attr_by_label), edges_c


# ------------------------------------------------------ compositions
def build_graph(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """In-memory composition of the pipeline (no checkpointing).

    Used by `entry()` smoke paths and micro-benchmarks; `run_pipeline` is
    the production staged/resumable variant over the same stage functions.
    `wrappers` (operators/wrappers.py specs) enables layout-template
    extraction.
    """
    rules = extract.compile_rules(onto)
    text_df = _text(pages, lang_filter, wrappers)
    # persist at the Python-UDF boundary: IR feeds both explode branches and
    # every downstream consumer — without this the bs4+extraction UDF chain
    # re-runs once per consumer (the single biggest wall-clock factor here)
    ir_df = _ir(text_df, rules, wrappers).persist()
    mentions, _quarantine, raw_edges = _normalize(ir_df, onto)
    mentions = mentions.persist()
    raw_edges = raw_edges.persist()
    # link_map's CC fixpoint runs eagerly (localCheckpoint per iteration);
    # its output is consumed once per endpoint side — persist the small map
    links = _links(mentions, raw_edges).persist()
    nodes, edges_c = _nodes(
        mentions, raw_edges, links, _key_attr_by_label(rules)
    )
    nodes = nodes.persist()
    edges = materialize.build_edges(edges_c, nodes)
    triples = materialize.triples_view(edges)
    persisted = [ir_df, mentions, raw_edges, links, nodes]

    def unpersist():
        """Release this graph's cached intermediates (long sessions that
        build many graphs should call this when done with the outputs),
        including handles tracked inside link/dedup (kgforge.cache)."""
        from kgforge.cache import release_cached

        for df in persisted:
            df.unpersist()
        release_cached()

    return {
        "text": text_df,
        "mentions": mentions,
        "raw_edges": raw_edges,
        "links": links,
        "nodes": nodes,
        "edges": edges,
        "triples": triples,
        "unpersist": unpersist,
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    onto: Ontology,
    out_dir: str,
    run_id: str | None = None,
    lang_filter: list[str] | None = None,
    wrappers: list | None = None,
) -> dict:
    """Run (or resume) the full pipeline; returns dict of output DataFrames.

    `wrappers` = layout-template extraction specs (see build_graph); when
    set, the html column survives stage 01 so the IR stage can parse DOM
    structure, and the stage-01 parquet carries it (template corpora trade
    stage-storage for structure-exact extraction)."""
    ctx = (
        RunContext(spark, out_dir, run_id)
        if run_id
        else RunContext(spark, out_dir)
    )
    rules = extract.compile_rules(onto)

    # repartition on full url, not url_host: extraction is per-row, and a
    # Zipf-headed host would put most of the corpus in one partition (the
    # lineage counters showed a 20x spread at 5k pages). url_host stays as a
    # column for host-bucketed table layouts downstream.
    text_df = ctx.run_stage(
        "01_text",
        lambda: _text(pages, lang_filter, wrappers).withColumn(
            "url_host", F.parse_url("url", F.lit("HOST"))
        ),
        repartition_col="url",
    )

    # bucket-granular resume: the most expensive stage only recomputes url
    # buckets whose lineage never committed after a mid-stage crash
    ir_df = ctx.run_stage_bucketed(
        "02_ir",
        text_df,
        lambda df: _ir(df, rules, wrappers),
        bucket_col="url",
        n_buckets=64,
    )

    # stages 03/04 share one normalize plan, built only when either runs
    normalized = functools.cache(lambda: _normalize(ir_df, onto))

    def build_mentions():
        valid, quarantine, _ = normalized()
        # skip-don't-fail with a durable record (the reference logs skipped
        # records per task, extract_data_step.py:177-189): invalid rows land
        # in a quarantine table instead of vanishing
        quarantine.write.mode("overwrite").parquet(
            f"{out_dir}/_quarantine/mentions"
        )
        return valid

    mentions_df = ctx.run_stage("03_mentions", build_mentions)
    raw_edges_df = ctx.run_stage("04_raw_edges", lambda: normalized()[2])
    links_df = ctx.run_stage(
        "05_links", lambda: _links(mentions_df, raw_edges_df)
    )

    # stages 06/07 share one link-map application
    resolved = functools.cache(
        lambda: _nodes(
            mentions_df, raw_edges_df, links_df, _key_attr_by_label(rules)
        )
    )
    nodes_df = ctx.run_stage("06_nodes", lambda: resolved()[0])
    edges_df = ctx.run_stage(
        "07_edges", lambda: materialize.build_edges(resolved()[1], nodes_df)
    )
    triples_df = ctx.run_stage(
        "08_triples", lambda: materialize.triples_view(edges_df)
    )

    # S10: the ontology rides with the graph it constrained — the engine's
    # analogue of the reference's MERGE-per-meta-node save
    # (/root/reference/graphrag_sdk/ontology.py:317-332)
    onto.save(f"{out_dir}/ontology.json")

    return {
        "ctx": ctx,
        "text": text_df,
        "ir": ir_df,
        "mentions": mentions_df,
        "raw_edges": raw_edges_df,
        "links": links_df,
        "nodes": nodes_df,
        "edges": edges_df,
        "triples": triples_df,
    }
