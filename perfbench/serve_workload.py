"""serve_mixed: one closed-loop client over a graph bulk-loaded from the
generator's gold nodes and triples.

The client repeats a fixed cycle of the four Cypher reads in `gold.READS`
and upsert batches (`add_nodes` then `add_edges`, every edge between nodes
that exist), waiting for each operation before sending the next. Reads
and writes hit the same node and edge tables, so a gain on one side that
costs the other shows in the same run. Every read is checked against
`gold.GoldGraph`, which applies the same upserts in plain Python.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from gold import KEY_ATTR, READS, GoldGraph
from kgforge.kg import KnowledgeGraph
from kgforge.sources.pages import generate_corpus, movies_ontology

N_PAGES = 150        # ~240 nodes, ~580 edges at load
BATCH_PEOPLE = 50    # new Person nodes per upsert
BATCH_EDGES = 100    # ACTED_IN edges per upsert (new and existing people)
# one cycle: each read once, with an upsert after the second
CYCLE = ("one_hop_agg", "prop_filter", "write", "two_hop_agg",
         "two_pattern_join")
# untimed warm-up before measuring: every operation once (the bulk load
# writes into empty tables, which skips the upsert join-rewrite)
WARMUP = CYCLE


class ServeMixed:
    n_pages = N_PAGES

    def __init__(self, spark, seed: int, work: str):
        n_pages = self.n_pages
        self.spark = spark
        self.rng = random.Random(seed)
        self.seed = seed
        path = os.path.join(work, "kg")
        shutil.rmtree(path, ignore_errors=True)
        self.kg = KnowledgeGraph(spark, movies_ontology(), path)
        self.gold = GoldGraph()
        corpus = generate_corpus(
            n_pages=n_pages, seed=seed, alias_frac=0.0, noise_sentences=0
        )
        self.node_rows = [(n["label"], json.loads(n["props"]))
                          for n in corpus.nodes]
        self.edge_rows = [
            (t["pred"], t["subj_label"], t["obj_label"],
             {KEY_ATTR[t["subj_label"]]: t["subj_key"]},
             {KEY_ATTR[t["obj_label"]]: t["obj_key"]},
             json.loads(t["props"]))
            for t in corpus.triples
        ]
        self.params = {"n_pages": n_pages, "batch_people": BATCH_PEOPLE,
                       "batch_edges": BATCH_EDGES, "cycle": list(CYCLE),
                       "load_nodes": len(self.node_rows),
                       "load_edges": len(self.edge_rows)}
        self._batches = 0

    def load(self) -> bool:
        """Bulk load through the public upserts; True when every edge of
        the gold graph was accepted."""
        self.kg.add_nodes(self.node_rows)
        self.gold.add_nodes(self.node_rows)
        n_valid = self.kg.add_edges(self.edge_rows)
        return n_valid == self.gold.add_edges(self.edge_rows) == len(
            self.edge_rows)

    def _arg(self, read: str) -> str | None:
        if read == "prop_filter":
            movies = sorted(k for (l, k) in self.gold.nodes if l == "Movie")
            return self.rng.choice(movies)
        if read == "two_pattern_join":
            directors = sorted({sk for (r, _, sk, _, _) in self.gold.edges
                                if r == "DIRECTED"})
            return self.rng.choice(directors)
        return None

    def read(self, read: str, tracer=None) -> tuple[float, bool]:
        """One `kg.query` + collect; returns (seconds, matches gold)."""
        arg = self._arg(read)
        cypher = READS[read].format(arg=arg)
        t0 = time.perf_counter()
        df = self.kg.query(cypher)
        if tracer is None:
            rows = df.collect()
        else:
            with tracer.span("plans.cypher_exec.exec:collect",
                             "plans.cypher_exec.exec"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        return dt, sorted(tuple(r) for r in rows) == self.gold.answer(read, arg)

    def _batch(self) -> tuple[list, list]:
        self._batches += 1
        b = self._batches
        movies = sorted(k for (l, k) in self.gold.nodes if l == "Movie")
        people = sorted(k for (l, k) in self.gold.nodes if l == "Person")
        new = [("Person", {"name": f"Serve Person {self.seed}-{b}-{i}"})
               for i in range(BATCH_PEOPLE)]
        names = [p[1]["name"] for p in new]
        names += [self.rng.choice(people)
                  for _ in range(BATCH_EDGES - BATCH_PEOPLE)]
        edges = [("ACTED_IN", "Person", "Movie", {"name": n},
                  {"title": self.rng.choice(movies)}, {"role": f"cameo {b}"})
                 for n in names]
        return new, edges

    def write(self) -> tuple[float, bool]:
        """One upsert batch; returns (seconds, every edge accepted)."""
        nodes, edges = self._batch()
        t0 = time.perf_counter()
        self.kg.add_nodes(nodes)
        n_valid = self.kg.add_edges(edges)
        dt = time.perf_counter() - t0
        self.gold.add_nodes(nodes)
        expected = self.gold.add_edges(edges)
        distinct = len({(e[3]["name"], e[4]["title"]) for e in edges})
        return dt, n_valid == expected == distinct
