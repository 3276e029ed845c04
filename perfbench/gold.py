"""Plain-Python reference graph for the serve workload.

`GoldGraph` mirrors the upsert semantics of `kgforge.kg.KnowledgeGraph`
(node MERGE on (label, unique key) with `SET +=` props; edge MERGE on
(relation, src, dst), dropped when an endpoint node is missing) and
answers every Cypher read of the serve mix without Spark. The benchmark
compares each `kg.query` result with these answers.
"""

from __future__ import annotations

from collections import Counter

# unique key attribute per label (the movies ontology)
KEY_ATTR = {"Person": "name", "Movie": "title", "Genre": "name"}

# the read mix: name -> Cypher template (str.format with one `arg`)
READS = {
    "one_hop_agg": (
        "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) RETURN m, count(p) AS n"
    ),
    "two_hop_agg": (
        "MATCH (p:Person)-[:ACTED_IN]->(m:Movie)-[:HAS_GENRE]->(g:Genre) "
        "RETURN g, count(p) AS n"
    ),
    "prop_filter": (
        "MATCH (p:Person)-[:ACTED_IN]->(m:Movie) "
        "WHERE m.title = '{arg}' RETURN p"
    ),
    "two_pattern_join": (
        "MATCH (d:Person)-[:DIRECTED]->(m:Movie), "
        "(a:Person)-[:ACTED_IN]->(m) WHERE d.name = '{arg}' RETURN m, a"
    ),
}


def _s(v) -> str:
    return "" if v is None else str(v)


class GoldGraph:
    def __init__(self):
        self.nodes: dict[tuple[str, str], dict[str, str]] = {}
        self.edges: dict[tuple[str, str, str, str, str], dict[str, str]] = {}

    def add_nodes(self, rows: list[tuple[str, dict]]) -> None:
        for label, attrs in rows:
            key = _s(attrs.get(KEY_ATTR[label]))
            props = self.nodes.setdefault((label, key), {})
            props.update({k: _s(v) for k, v in attrs.items()})

    def add_edges(self, rows: list[tuple]) -> int:
        """Returns how many distinct edges had both endpoints present."""
        written = set()
        for rel, sl, dl, s_attrs, d_attrs, attrs in rows:
            sk = _s(s_attrs[KEY_ATTR[sl]])
            dk = _s(d_attrs[KEY_ATTR[dl]])
            if (sl, sk) not in self.nodes or (dl, dk) not in self.nodes:
                continue
            k = (rel, sl, sk, dl, dk)
            self.edges.setdefault(k, {}).update(
                {a: _s(v) for a, v in (attrs or {}).items()}
            )
            written.add(k)
        return len(written)

    def _pairs(self, rel: str) -> list[tuple[str, str]]:
        return [(sk, dk) for (r, _, sk, _, dk) in self.edges if r == rel]

    def answer(self, read: str, arg: str | None = None) -> list[tuple]:
        """Sorted result rows of READS[read] on the current graph."""
        if read == "one_hop_agg":
            rows = Counter(m for _, m in self._pairs("ACTED_IN")).items()
        elif read == "two_hop_agg":
            genres: dict[str, list[str]] = {}
            for m, g in self._pairs("HAS_GENRE"):
                genres.setdefault(m, []).append(g)
            rows = Counter(
                g for _, m in self._pairs("ACTED_IN") for g in genres.get(m, [])
            ).items()
        elif read == "prop_filter":
            rows = [(p,) for p, m in self._pairs("ACTED_IN") if m == arg]
        elif read == "two_pattern_join":
            movies = {m for d, m in self._pairs("DIRECTED") if d == arg}
            rows = [(m, a) for a, m in self._pairs("ACTED_IN") if m in movies]
        else:
            raise KeyError(read)
        return sorted(tuple(r) for r in rows)
