"""S5/S6 chunker floor-drop parity + P3-P8 normalization/quarantine."""

from pyspark.sql import functions as F

from kgforge.operators import normalize
from kgforge.sources.chunk import chunk_csv, chunk_jsonl, chunk_rows
from kgforge.sources.pages import movies_ontology


def _py_chunk_oracle(rows, k):
    """Pure-python mirror of csv.py:15-32 semantics (floor drop)."""
    n = len(rows) // k
    return ["\n".join(rows[i * k : (i + 1) * k]) for i in range(n)]


def test_chunk_rows_floor_drop(spark):
    rows = [f"line{i:03d}" for i in range(125)]  # 125 rows, k=50 -> 2 docs
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "idx long, txt string"
    )
    got = {
        r["chunk_id"]: r["content"]
        for r in chunk_rows(df, "txt", "idx", 50).collect()
    }
    want = _py_chunk_oracle(rows, 50)
    assert len(got) == 2  # remainder of 25 dropped (csv.py:20)
    assert got[0] == want[0]
    assert got[1] == want[1]


def test_chunk_csv_cell_join(spark):
    df = spark.createDataFrame(
        [(i, f"a{i}", f"b{i}") for i in range(4)], "idx long, c1 string, c2 string"
    )
    out = chunk_csv(df, "idx", rows_per_document=2).collect()
    contents = {r["chunk_id"]: r["content"] for r in out}
    assert contents[0] == "a0,b0\na1,b1"
    assert contents[1] == "a2,b2\na3,b3"


def test_chunk_jsonl_trailing_newlines(spark):
    # readlines keeps "\n" per line; join adds another (jsonl.py:20-27)
    df = spark.createDataFrame(
        [(i, f'{{"k":{i}}}') for i in range(2)], "idx long, line string"
    )
    out = chunk_jsonl(df, "line", "idx", rows_per_document=2).collect()
    assert out[0]["content"] == '{"k":0}\n\n{"k":1}\n'


def test_chunk_partitioned(spark):
    df = spark.createDataFrame(
        [(f, i, f"r{f}{i}") for f in ("x", "y") for i in range(3)],
        "file string, idx long, txt string",
    )
    out = chunk_rows(df, "txt", "idx", 2, part_col="file").collect()
    by_file = {(r["file"], r["chunk_id"]): r["content"] for r in out}
    assert by_file[("x", 0)] == "rx0\nrx1"
    assert by_file[("y", 0)] == "ry0\nry1"
    assert len(by_file) == 2  # remainders dropped per file


def test_sanitize_edges(spark):
    df = spark.createDataFrame(
        [("u", None, "acted-in!", "Per son", "k1", "Mo vie", "k2", None)],
        "url string, warc_ts timestamp, label string, src_label string, "
        "src_key string, dst_label string, dst_key string, "
        "attributes map<string,string>",
    )
    r = normalize.sanitize_edges(df).collect()[0]
    assert r["label"] == "ACTEDIN"
    assert r["src_label"] == "Person"
    assert r["dst_label"] == "Movie"


def test_ontology_membership_filter(spark):
    onto = movies_ontology()
    mentions = spark.createDataFrame(
        [
            ("u", None, "Person", "A", None),
            ("u", None, "Alien", "B", None),
        ],
        "url string, warc_ts timestamp, label string, key string, "
        "attributes map<string,string>",
    )
    edges = spark.createDataFrame(
        [
            ("u", None, "DIRECTED", "Person", "A", "Movie", "M", None),
            ("u", None, "DIRECTED", "Movie", "M", "Person", "A", None),  # J6: wrong direction
            ("u", None, "UNKNOWN", "Person", "A", "Movie", "M", None),   # P7
        ],
        "url string, warc_ts timestamp, label string, src_label string, "
        "src_key string, dst_label string, dst_key string, "
        "attributes map<string,string>",
    )
    m_ok, e_ok = normalize.filter_to_ontology(mentions, edges, onto, spark)
    assert [r["label"] for r in m_ok.collect()] == ["Person"]
    kept = e_ok.collect()
    assert len(kept) == 1
    assert kept[0]["src_label"] == "Person"


def test_validate_attributes_quarantine(spark):
    onto = movies_ontology()
    mentions = spark.createDataFrame(
        [
            ("u", None, "Movie", "M1", {"title": "M1", "release_year": "1999"}),
            ("u", None, "Movie", "M2", {"title": "M2", "release_year": "abc"}),
        ],
        "url string, warc_ts timestamp, label string, key string, "
        "attributes map<string,string>",
    )
    valid, quarantine = normalize.validate_attributes(mentions, onto)
    assert [r["key"] for r in valid.collect()] == ["M1"]
    assert [r["key"] for r in quarantine.collect()] == ["M2"]


def test_missing_required_attr_kept_by_default(spark):
    """Reference parity: the extraction path writes records missing a
    required (non-unique) attribute — only manual add_node enforces
    `required`."""
    from kgforge.ontology import Attribute, Entity, Ontology

    onto = Ontology(
        entities=[
            Entity("Stats", [
                Attribute("name", "string", True, True),
                Attribute("passes", "number", False, True),
            ]),
        ],
        relations=[],
    )
    mentions = spark.createDataFrame(
        [
            ("u", None, "Stats", "A", {"name": "A", "passes": "3"}),
            ("u", None, "Stats", "B", {"name": "B"}),  # passes missing
        ],
        "url string, warc_ts timestamp, label string, key string, "
        "attributes map<string,string>",
    )
    valid, quar = normalize.validate_attributes(mentions, onto)
    assert sorted(r["key"] for r in valid.collect()) == ["A", "B"]
    assert quar.count() == 0


# ---------------------------------------------------------------------
# cdc_chunks — content-defined chunking
# ---------------------------------------------------------------------

def _cdc_brute(text, window=16, mask="0"):
    import hashlib

    L = len(text)
    bounds = [
        i
        for i in range(2, L - window + 2)
        if hashlib.md5(text[i - 1 : i - 1 + window].encode()).hexdigest()
        .startswith(mask)
    ]
    starts = [1] + bounds
    ends = bounds + [L + 1]
    return [
        (idx, s, e - s,
         hashlib.md5(text[s - 1 : e - 1].encode()).hexdigest())
        for idx, (s, e) in enumerate(zip(starts, ends))
    ]


def test_cdc_chunks_matches_python_replay(spark):
    import hashlib

    from kgforge.sources.chunk import cdc_chunks

    text = " ".join(
        "abcdefgh"[int(hashlib.md5(f"cdc|{i}".encode()).hexdigest()[:2], 16) % 8]
        * (i % 3 + 1)
        for i in range(120)
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        (r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_md5)
        for r in cdc_chunks(docs).collect()
    )
    assert got == _cdc_brute(text)
    # chunks tile the document exactly
    assert sum(c[2] for c in got) == len(text)


def test_cdc_chunks_edit_stability(spark):
    import hashlib

    from kgforge.sources.chunk import cdc_chunks

    base = " ".join(
        "wxyz"[int(hashlib.md5(f"st|{i}".encode()).hexdigest()[:2], 16) % 4]
        * (i % 4 + 1)
        for i in range(200)
    )
    edited = base[:10] + "INSERTED " + base[10:]
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(docs).collect()
    a = {r.chunk_md5 for r in out if r.doc_id == 1}
    b = {r.chunk_md5 for r in out if r.doc_id == 2}
    # the content-defined property: a prefix edit re-chunks only its
    # neighborhood; the vast majority of fingerprints survive
    assert len(a & b) >= 0.8 * len(a)


def test_cdc_chunks_short_and_empty(spark):
    import hashlib

    from kgforge.sources.chunk import cdc_chunks

    docs = spark.createDataFrame(
        [(1, "tiny"), (2, ""), (3, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in cdc_chunks(docs).collect()}
    assert set(out) == {1, 2}
    assert (out[1].chunk_start, out[1].chunk_len) == (1, 4)
    assert out[1].chunk_md5 == hashlib.md5(b"tiny").hexdigest()
    assert (out[2].chunk_len, out[2].chunk_md5) == (
        0, hashlib.md5(b"").hexdigest()
    )

    import pytest

    with pytest.raises(ValueError):
        cdc_chunks(docs, window=0)
    with pytest.raises(ValueError):
        cdc_chunks(docs, mask="")


def test_cdc_chunks_plan_map_only(spark):
    from kgforge.sources.chunk import cdc_chunks

    docs = spark.createDataFrame([(1, "x" * 100)], "doc_id long, text string")
    plan = cdc_chunks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan
