"""build_pages: one clean `run_pipeline` over generated html pages, then
re-invocations of `run_pipeline` on the committed directory.

The build is the first pipeline run of a fresh process, as every batch
submission of the pipeline is: on a 4-core host one build is ~45-90 s,
nearly all of it per-Spark-job overhead (a 10-page build costs ~85 % of a
100-page one), so a warm-up build would double the run for no change in
what the build measures.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import functions as F

from kgforge.plans import pipeline
from kgforge.sources.pages import corpus_to_spark, generate_corpus, movies_ontology

# inputs: html pages (the html->text UDF runs), half the people written
# under alias surface forms (linking has work), some noise sentences
N_PAGES = 100
NOISE_SENTENCES = 20
ALIAS_FRAC = 0.5
MIN_PR = 0.95

TRIPLE_COLS = ("subj_label", "subj_key", "pred", "obj_label", "obj_key")


def triples_hash(triples: set[tuple]) -> str:
    """Order-insensitive digest of a triple set."""
    h = hashlib.sha256()
    for t in sorted(triples):
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


class BuildPages:
    n_pages = N_PAGES

    def __init__(self, spark, seed: int, work: str):
        n_pages = self.n_pages
        self.spark = spark
        self.work = work
        corpus = generate_corpus(
            n_pages=n_pages, seed=seed, alias_frac=ALIAS_FRAC,
            noise_sentences=NOISE_SENTENCES,
        )
        self.pages, _, _ = corpus_to_spark(spark, corpus)
        self.gold = {tuple(t[c] for c in TRIPLE_COLS) for t in corpus.triples}
        self.onto = movies_ontology()
        self.params = {"n_pages": n_pages, "noise_sentences": NOISE_SENTENCES,
                       "alias_frac": ALIAS_FRAC, "html_udf": True,
                       "input_pages": len(corpus.pages)}
        self._n = 0

    def fresh_dir(self) -> str:
        self._n += 1
        path = os.path.join(self.work, f"build{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def run(self, out_dir: str) -> tuple[float, dict]:
        """One `run_pipeline` call; returns (seconds, outputs)."""
        t0 = time.perf_counter()
        out = pipeline.run_pipeline(self.spark, self.pages, self.onto, out_dir)
        return time.perf_counter() - t0, out

    def check_build(self, out: dict) -> dict:
        """Correctness of one committed build: P/R against the generator's
        gold triples and no duplicate (label, key) node."""
        got = {tuple(r) for r in out["triples"].select(*TRIPLE_COLS).collect()}
        hit = len(got & self.gold)
        precision = hit / len(got) if got else 0.0
        recall = hit / len(self.gold)
        dup_nodes = (
            out["nodes"].groupBy("label", "key").count()
            .filter(F.col("count") > 1).count()
        )
        return {
            "triples": len(got),
            "hash": triples_hash(got),
            "precision": precision,
            "recall": recall,
            "dup_nodes": dup_nodes,
            "ok": precision >= MIN_PR and recall >= MIN_PR and dup_nodes == 0,
        }

    def check_rerun(self, out: dict, build_hash: str) -> bool:
        got = {tuple(r) for r in out["triples"].select(*TRIPLE_COLS).collect()}
        return triples_hash(got) == build_hash

    @staticmethod
    def stage_walls(out: dict) -> list[tuple[str, int]]:
        """(stage, wall_ms) from the program's own lineage table."""
        lin = out["ctx"].lineage()
        return [
            (r["stage"], r["wall_ms"])
            for r in lin.filter(F.col("status") == "stage_complete")
            .select("stage", "wall_ms").collect()
        ]
