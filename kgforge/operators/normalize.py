"""Normalization + ontology validation (SURVEY §2.2 P3-P8, §2.3 J6/J7).

Mirrors the reference's hard constraints:
- entity label sanitize: strip [^a-zA-Z0-9_]      (entity.py:39)      -> P3
- attr-name sanitize: non-alnum -> "_"            (attribute.py:68)   -> P4
- relation label: upper + strip                   (relation.py:125)   -> P5
- drop extraction not in ontology                 (extract_data_step.py:197-200,
                                                   229-231)           -> P6/P7
- relation (src,dst) must match an ontology row   (helpers.py:137-213)-> J6
- missing unique attribute value -> ""            (extract_data_step.py:202-207)
- None property values -> ""                      (helpers.py:44-46)
- required/type validation with quarantine        (kg.py:271-297)     -> P8

All pure DataFrame ops: regexp projections + broadcast semi/anti joins —
Catalyst keeps them in WholeStageCodegen, and the ontology side is always
broadcast (it is tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.ontology import Ontology

_STRIP = "[^a-zA-Z0-9_]"


def sanitize_mentions(mentions: DataFrame) -> DataFrame:
    """P3 on the label column; keys/attr values are data, not identifiers."""
    return mentions.withColumn("label", F.regexp_replace("label", _STRIP, ""))


def sanitize_edges(raw_edges: DataFrame) -> DataFrame:
    """P5 on relation label, P3 on endpoint labels."""
    return (
        raw_edges.withColumn(
            "label", F.regexp_replace(F.upper("label"), _STRIP, "")
        )
        .withColumn("src_label", F.regexp_replace("src_label", _STRIP, ""))
        .withColumn("dst_label", F.regexp_replace("dst_label", _STRIP, ""))
    )


def filter_to_ontology(
    mentions: DataFrame, raw_edges: DataFrame, onto: Ontology, spark
):
    """P6/P7/J6 via broadcast left-semi joins against the ontology DFs."""
    ent_df, rel_df = onto.to_dataframes(spark)
    ent_labels = F.broadcast(ent_df.select("label"))
    rel_sigs = F.broadcast(
        rel_df.select("label", "src_label", "dst_label")
    )
    mentions_ok = mentions.join(ent_labels, on="label", how="left_semi")
    edges_ok = raw_edges.join(
        rel_sigs, on=["label", "src_label", "dst_label"], how="left_semi"
    )
    return mentions_ok, edges_ok


def validate_attributes(mentions: DataFrame, onto: Ontology):
    """P8: type checks; invalid rows -> quarantine (skip-don't-fail,
    mirroring the reference's per-record try/except at
    extract_data_step.py:177-189).

    number attrs must cast to double; boolean attrs must be true/false.
    Missing *required* attributes do NOT quarantine by default: the
    reference's extraction path writes such records as-is (it only
    defaults missing *unique* attrs to "", extract_data_step.py:202-207;
    `required` is enforced solely on manual add_node, kg.py:189-297 —
    which kg._validate mirrors). Real pages omit required fields (e.g.
    UFC totals tables with empty cells), and dropping the whole entity
    would silently lose its other facts. Returns (valid, quarantined).
    """
    compiled = onto.compile()["entities"]
    checks = []
    for label, spec in compiled.items():
        bad = F.lit(False)
        for attr, typ in spec["attrs"].items():
            v = F.col("attributes").getItem(attr)
            if typ == "number":
                bad = bad | (v.isNotNull() & v.try_cast("double").isNull())
            elif typ == "boolean":
                bad = bad | (
                    v.isNotNull() & ~F.lower(v).isin("true", "false")
                )
        checks.append((label, bad))
    bad_expr = F.lit(False)
    for label, bad in checks:
        bad_expr = F.when(F.col("label") == label, bad).otherwise(bad_expr)
    flagged = mentions.withColumn("_invalid", bad_expr)
    return (
        flagged.filter(~F.col("_invalid")).drop("_invalid"),
        flagged.filter(F.col("_invalid")).drop("_invalid"),
    )
