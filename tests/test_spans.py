"""Span/markup layer tests (C1) — offsets pinned to the reference example.

Golden case: /root/reference/utils/mention.py:5-10 documents
    '[[1|aa]]bb[[2|cc]]dd' → plain 'aabbccdd', anchors (aa,1,0), (cc,2,4).
We pin that exact shape plus a transliterated multi-anchor case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xlink_spark.operators import spans as SP


def _parse(spark, text):
    df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    out = SP.parse_markup_to_spans(df).collect()
    assert len(out) == 1
    return out[0]["spans"]


def test_markup_roundtrip_simple(spark):
    sp = _parse(spark, "[[1|aa]]bb[[2|cc]]dd")
    anchors = [s for s in sp if s["kind"] == "anchor"]
    assert [(a["text"], a["media_ref"], a["offset"]) for a in anchors] == [
        ("aa", "1", 0),
        ("cc", "2", 4),
    ]
    df = spark.createDataFrame([(sp,)], "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    plain = df.select(SP.plain_text("spans").alias("p")).collect()[0]["p"]
    assert plain == "aabbccdd"
    markup = df.select(SP.spans_to_markup("spans").alias("m")).collect()[0]["m"]
    assert markup == "[[1|aa]]bb[[2|cc]]dd"


def test_markup_leading_text_offsets(spark):
    text = "intro [[e7|deep learning]] middle [[e9|graph]] tail"
    sp = _parse(spark, text)
    anchors = [s for s in sp if s["kind"] == "anchor"]
    plain = "intro deep learning middle graph tail"
    assert anchors[0]["offset"] == plain.index("deep learning")
    assert anchors[1]["offset"] == plain.index("graph")
    assert anchors[0]["media_ref"] == "e7"


def test_markup_validity_predicate(spark):
    rows = [
        ("ok", "a [[e1|x]] b", True),
        ("unclosed", "a [[e1|x b", False),
        ("nested", "a [[e1|[[e2|y]]]] b", False),
        ("no_pipe", "a [[e1x]] b", False),
        ("plain", "no anchors at all", True),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string, want boolean")
    got = df.select("doc_id", "want", SP.is_markup_valid("text").alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], r["doc_id"]


def test_fixture_spans_offsets_consistent(sdfs):
    """Generator invariant: every anchor offset == its position in plain text."""
    docs, *_ = sdfs
    flat = docs.select(
        "doc_id",
        SP.plain_text("spans").alias("plain"),
        F.explode(F.filter("spans", lambda s: s["kind"] == "anchor")).alias("a"),
    )
    bad = flat.filter(
        F.substring(F.col("plain"), F.col("a.offset") + 1, F.length("a.text"))
        != F.col("a.text")
    )
    assert bad.count() == 0


def test_span_sequence_key_detects_reorder(spark):
    sp1 = [("text", "ab", None, 0), ("anchor", "cd", "e1", 2)]
    sp2 = [("anchor", "cd", "e1", 0), ("text", "ab", None, 2)]
    df = spark.createDataFrame(
        [(sp1,), (sp2,)],
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    keys = [r["k"] for r in df.select(SP.span_sequence_key("spans").alias("k")).collect()]
    assert keys[0] != keys[1]


def test_uri_parent_path_fallback(spark):
    """C4: a URI missing from the index resolves via its parent path
    (dictionary.py:124-132 drops the last path segment and retries)."""
    from xlink_spark.sources.corpus import resolve_doc_entity

    docs = spark.createDataFrame(
        [
            ("t1", None, "http://baike.com/view/123", "x"),      # exact hit
            ("t2", None, "http://baike.com/view/123/extra", "x"),  # parent hit
            ("t3", None, "http://baike.com/other/999", "x"),     # title fallback
            ("t4", None, "http://nohit.com/a", "x"),             # unresolved
        ],
        "title string, sub_title string, url string, content string",
    )
    kb_uris = spark.createDataFrame(
        [("http://baike.com/view/123", "e1")], "uri string, entity_id string"
    )
    kb_entities = spark.createDataFrame(
        [("e3", "t3")], "entity_id string, full_title string"
    )
    got = {r["url"]: r["entity_id"] for r in resolve_doc_entity(docs, kb_uris, kb_entities).collect()}
    assert got["http://baike.com/view/123"] == "e1"
    assert got["http://baike.com/view/123/extra"] == "e1"  # parent-path fallback
    assert got["http://baike.com/other/999"] == "e3"       # full-title fallback
    assert got["http://nohit.com/a"] is None


def test_adjacent_anchors_single_space_span(spark):
    """Two anchors separated by one space parse to ONE single-space text
    span between them (the separator char is shared, not doubled) — the
    semantics the span_roundtrip oracle derives independently."""
    df = spark.createDataFrame(
        [("d", "a [[e1|x]] [[e2|yy]] b")], "doc_id string, text string"
    )
    sp = SP.parse_markup_to_spans(df).collect()[0]["spans"]
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp]
    assert got == [
        ("text", "a ", None, 0),
        ("anchor", "x", "e1", 2),
        ("text", " ", None, 3),
        ("anchor", "yy", "e2", 4),
        ("text", " b", None, 6),
    ]


def test_media_markup_roundtrip(spark):
    """serialize → parse round-trips an interleaved text+media+anchor doc
    span-for-span (the north-rule invariant including media): kinds, texts,
    media refs, order AND offsets all survive."""
    sp = [
        ("text", "see ", None, 0),
        ("media", None, "asset://img/7.jpg", 4),
        ("text", " and ", None, 4),
        ("anchor", "spark", "e9", 9),
        ("text", " docs", None, 14),
    ]
    df = spark.createDataFrame(
        [(sp,)],
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    marked = df.select(
        F.lit("d").alias("doc_id"), SP.spans_to_markup("spans").alias("text")
    )
    assert marked.collect()[0]["text"] == "see [[media:asset://img/7.jpg]] and [[e9|spark]] docs"
    assert marked.select(SP.is_markup_valid("text").alias("v")).collect()[0]["v"]
    back = SP.parse_markup_to_spans(marked).collect()[0]["spans"]
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in back]
    assert got == sp


def test_media_roundtrip_on_fixture_corpus(sdfs):
    """Every fixture doc (media spans included) survives spans_to_markup →
    parse_markup_to_spans with an identical CANONICAL span sequence
    (runs of adjacent text spans merged into one carrying the first
    fragment's offset, the one boundary markup cannot represent) — kinds,
    texts, refs, order AND offsets."""

    def canonical(spans):
        out = []
        for s in spans:
            t = (s["kind"], s["text"], s["media_ref"], s["offset"])
            if out and out[-1][0] == "text" and t[0] == "text":
                last = out.pop()
                t = ("text", (last[1] or "") + (t[1] or ""), None, last[3])
            out.append(t)
        return out

    docs, *_ = sdfs
    marked = docs.select(
        "doc_id", SP.spans_to_markup("spans").alias("text"), "spans"
    )
    back = SP.parse_markup_to_spans(marked.select("doc_id", "text"))
    orig = {r["doc_id"]: canonical(r["spans"]) for r in marked.collect()}
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in back.collect()
    }
    assert got == orig


def test_media_ref_audit_hand_values(spark):
    """Dangling-media audit: per-occurrence counting (repeated dangling ref
    counts twice), zero-media docs survive with empty array, catalog
    duplicates collapse, and dangling_refs comes back sorted."""
    from xlink_spark.operators.spans import media_ref_audit, parse_markup_to_spans

    docs = spark.createDataFrame(
        [
            (1, "a [[media:ok1]] b [[media:gone2]] c [[media:gone1]]"),
            (2, "no media here"),
            (3, "[[media:gone1]] x [[media:gone1]]"),
            (4, "[[e1|anchor]] only"),  # anchors are not media
        ],
        "doc_id int, text string",
    )
    catalog = spark.createDataFrame(
        [("ok1",), ("ok1",), ("unused",)], "media_ref string"
    )
    out = {
        r["doc_id"]: r
        for r in media_ref_audit(parse_markup_to_spans(docs), catalog).collect()
    }
    assert (out[1]["n_media"], out[1]["n_resolved"], out[1]["n_dangling"]) == (3, 1, 2)
    assert out[1]["dangling_refs"] == ["gone1", "gone2"]
    assert (out[2]["n_media"], out[2]["n_dangling"], out[2]["dangling_refs"]) == (
        0,
        0,
        [],
    )
    assert (out[3]["n_media"], out[3]["n_dangling"]) == (2, 2)
    assert out[3]["dangling_refs"] == ["gone1", "gone1"]
    assert (out[4]["n_media"], out[4]["n_dangling"]) == (0, 0)
    assert len(out) == 4
