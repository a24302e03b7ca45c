"""Sources: corpus standardization (S1), word2vec binary (S6), AIDA
CoNLL (S10)."""

from __future__ import annotations

import pytest
from reference_files import write_word2vec_binary

from xlink_spark.plans.snapshots import SnapshotStore
from xlink_spark.sources import corpus as CS
from xlink_spark.sources import embeddings as EM


@pytest.fixture(scope="module")
def kb(spark):
    kb_entities = spark.createDataFrame(
        [
            ("e1", "Alpha", "", "Alpha"),
            ("e2", "Beta", "（x）", "Beta（x）"),
        ],
        "entity_id string, title string, sub_title string, full_title string",
    )
    kb_uris = spark.createDataFrame(
        [("http://kb/e1", "e1"), ("http://kb/e2", "e2")], "uri string, entity_id string"
    )
    return kb_entities, kb_uris


def test_standardize_corpus(spark, tmp_path, kb):
    kb_entities, kb_uris = kb
    lines = [
        "Alpha\t\t\t\thttp://KB/e1\t\tsome [[e2|beta]] text",      # resolves by uri
        "Beta\t\t（x）\t\tmissing://nowhere\t\tplain text",          # resolves by full_title
        "Gamma\t\t\t\tmissing://x\t\tno resolution here",          # unresolved → quarantine
        "BadShape only two cols",                                   # bad shape → quarantine
        "Alpha\t\t\t\thttp://kb/e1\t\tbroken [[e2|anchor",          # invalid markup → quarantine
    ]
    p = tmp_path / "raw.txt"
    p.write_text("\n".join(lines))
    store = SnapshotStore(str(tmp_path / "snap"))
    docs, quarantined = CS.standardize_corpus(spark, str(p), kb_uris, kb_entities, store)
    got = {r["doc_id"]: r["spans"] for r in docs.collect()}
    assert set(got) == {"e1", "e2"}
    anchors = [s for s in got["e1"] if s["kind"] == "anchor"]
    assert [(a["text"], a["media_ref"]) for a in anchors] == [("beta", "e2")]
    reasons = sorted(r["reason"] for r in quarantined.collect())
    assert reasons == ["bad_shape", "invalid_markup", "unresolved_entity"]


def test_standardize_corpus_manifests_quarantine_counters(spark, tmp_path, kb):
    """The stage manifest records the observed error_no
    tallies: per-reason reject counts + accepted rows — and both committed
    tables read back resume-style."""
    kb_entities, kb_uris = kb
    lines = [
        "Alpha\t\t\t\thttp://KB/e1\t\tsome [[e2|beta]] text",
        "Gamma\t\t\t\tmissing://x\t\tno resolution here",     # unresolved
        "Delta also bad",                                      # bad shape
        "BadShape only two cols",                              # bad shape
        "Alpha\t\t\t\thttp://kb/e1\t\tbroken [[e2|anchor",     # invalid markup
    ]
    p = tmp_path / "raw.txt"
    p.write_text("\n".join(lines))
    store = SnapshotStore(str(tmp_path / "snap"))
    docs, quarantined = CS.standardize_corpus(
        spark, str(p), kb_uris, kb_entities, store=store
    )
    assert docs.count() == 1 and quarantined.count() == 4
    m = store.manifest("standard_corpus")["metrics"]
    assert m["quarantine"] == {
        "rejected": 4, "bad_shape": 2, "unresolved_entity": 1, "invalid_markup": 1
    }
    assert m["accepted_rows"] == 1
    qm = store.manifest("standard_corpus_quarantine")
    assert qm["rows"] == 4 and qm["metrics"]["quarantine"]["rejected"] == 4


def test_word2vec_binary_roundtrip(spark, tmp_path):
    rows = [("hello", [1.0, 2.0, 3.0]), ("世界", [0.5, -0.5, 0.25])]
    p = tmp_path / "vectors.bin"
    write_word2vec_binary(rows, str(p))
    got = {r["key"]: r["vec"] for r in EM.read_word2vec_binary(spark, str(p)).collect()}
    assert got["hello"] == [1.0, 2.0, 3.0]
    assert got["世界"] == [0.5, -0.5, 0.25]


def test_aida_conll_source(spark, tmp_path):
    """S10: -DOCSTART-/B-I parse with reference quirks (punct glue, I-lines
    append nothing, unmentioned EOF doc dropped) + URI resolution + stats."""
    from xlink_spark.sources import conll as CL

    raw = (
        "-DOCSTART- (1 testA)\n"
        "Japan\tB\tJapan\tJapan\thttp://en.wikipedia.org/wiki/Japan\n"
        "coach\n"
        "said\n"
        ":\n"
        "Tokyo\tB\tTokyo City\t--NME--\n"
        "City\tI\tTokyo City\t--NME--\n"
        "rocks\n"
        "\n"
        "Second\tB\tSecond Entity\tFoo\thttp://en.wikipedia.org/wiki/Missing_One\n"
        "Entity\tI\tSecond Entity\tFoo\thttp://en.wikipedia.org/wiki/Missing_One\n"
        "line\n"
        "-DOCSTART- (2 testB)\n"
        "trailing\tB\ttrailing\tT\thttp://en.wikipedia.org/wiki/Trail\n"
        "doc\n"
    )
    p = tmp_path / "aida.conll"
    p.write_text(raw)
    kb_uris = spark.createDataFrame(
        [("/wiki/Japan", "e_jp"), ("/wiki/Trail", "e_tr")], "uri string, entity_id string"
    )
    docs, gold = CL.read_aida_conll(spark, str(p), kb_uris)
    texts = {r["doc_id"].rsplit("#", 1)[1]: r["text"] for r in docs.collect()}
    # hand-built golden: punct glues (said:Tokyo), empty line -> newline,
    # I-lines append nothing, final doc unstripped
    assert texts["0"] == "Japan coach said:Tokyo City rocks\nSecond Entity line"
    assert texts["1"] == "trailing doc "
    g = sorted(
        (r["doc_id"].rsplit("#", 1)[1], r["start"], r["end"], r["mention"],
         r["entity_id"], r["status"])
        for r in gold.collect()
    )
    assert g == [
        ("0", 0, 5, "Japan", "e_jp", "linked"),
        ("0", 17, 27, "Tokyo City", "NIL", "nil_nme"),
        ("0", 34, 47, "Second Entity", "NIL", "nil_miss"),
        ("1", 0, 8, "trailing", "e_tr", "linked"),
    ]
    # offsets are char-exact into the rebuilt text
    assert texts["0"][17:27] == "Tokyo City"
    assert texts["0"][34:47] == "Second Entity"
    s = CL.conll_stats(gold).collect()[0]
    assert (s["total_mentions"], s["nil_mentions"], s["index_misses"], s["nme_mentions"]) == (4, 2, 1, 1)
    # a doc with no mentions at EOF is dropped (reference final-flush guard)
    p2 = tmp_path / "nomention.conll"
    p2.write_text("-DOCSTART- (x)\nplain\ntokens\n")
    d2, g2 = CL.read_aida_conll(spark, str(p2), kb_uris)
    assert d2.count() == 0 and g2.count() == 0


def test_aida_conll_malformed_b_line(spark, tmp_path):
    """A B line with a yago id but NO URL column is 'malformed', not NME —
    the reference raises IndexError there (AnnotationFormatter.py:57); we
    keep the row but never inflate the NME counters with it."""
    from xlink_spark.sources import conll as CL

    raw = (
        "-DOCSTART- (1 bad)\n"
        "Broken\tB\tBroken\tSomeYagoId\n"  # yago id, missing 5th URL column
        "Tokyo\tB\tTokyo\t--NME--\n"
        "Short\tB\tShorty\n"  # 3 columns: no yago id at all (ref: IndexError)
        "Tiny\tB\n"           # 2 columns: label falls back to the token
        "ok\n"
    )
    p = tmp_path / "bad.conll"
    p.write_text(raw)
    kb_uris = spark.createDataFrame([("/wiki/X", "ex")], "uri string, entity_id string")
    _docs, gold = CL.read_aida_conll(spark, str(p), kb_uris)
    st = {r["mention"]: r["status"] for r in gold.collect()}
    assert st == {
        "Broken": "malformed",
        "Tokyo": "nil_nme",
        "Shorty": "malformed",
        "Tiny": "malformed",
    }
    s = CL.conll_stats(gold).collect()[0]
    # nme counter counts ONLY the genuine --NME-- mention
    assert (s["total_mentions"], s["nme_mentions"], s["nil_mentions"]) == (4, 1, 4)


def test_eval_on_conll_end_to_end(spark, tmp_path):
    """S10 → link_corpus → A11/A12: a CoNLL dataset evaluates end to end,
    with gold offsets matching the predictor's char-exact spans."""
    from xlink_spark.eval.conll import eval_on_conll
    from xlink_spark.plans.pipeline import build_dictionary
    from xlink_spark.plans.snapshots import SnapshotStore

    docs = spark.createDataFrame(
        [
            ("t1", [("text", "[[e_paris|paris]] near [[e_france|france]] paris france paris", None, 0)]),
            ("t2", [("text", "[[e_paris|paris]] and [[e_france|france]] again paris france", None, 0)]),
            ("t3", [("text", "paris france paris france filler words here", None, 0)]),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    kb = spark.createDataFrame(
        [("e_paris", "paris"), ("e_france", "france")], "entity_id string, surface_norm string"
    )
    emb = spark.createDataFrame(
        [("e_paris", [1.0, 0.0]), ("e_france", [0.0, 1.0]),
         ("paris", [1.0, 0.0]), ("france", [0.0, 1.0]), ("near", [0.5, 0.5])],
        "key string, vec array<double>",
    )
    d = build_dictionary(docs, kb, emb, store=SnapshotStore(str(tmp_path / "s")))
    conll = (
        "-DOCSTART- (1)\n"
        "paris\tB\tparis\tP\thttp://en.wikipedia.org/wiki/Paris\n"
        "near\n"
        "france\tB\tfrance\tFR\thttp://en.wikipedia.org/wiki/France\n"
        "today\n"
        "ghost\tB\tghost\t--NME--\n"
    )
    p = tmp_path / "eval.conll"
    p.write_text(conll)
    kb_uris = spark.createDataFrame(
        [("/wiki/Paris", "e_paris"), ("/wiki/France", "e_france")],
        "uri string, entity_id string",
    )
    report = eval_on_conll(spark, str(p), d, emb, emb, kb_uris)
    assert report["dataset"]["total_mentions"] == 3
    assert report["dataset"]["nme_mentions"] == 1
    # both non-NIL gold mentions must be found at the exact offsets and
    # linked to the right entities
    assert report["linking"]["blocked_accuracy"] == 1.0
    assert report["linking"]["recall"] == 1.0
    assert report["mention"]["recall"] >= 2 / 3  # the NME span may be unparsed


def test_aida_conll_blank_line_after_docstart_offsets(spark, tmp_path):
    """A doc starting with a blank line (standard CoNLL-2003 layout): the
    flush strips the leading newline, and mention offsets shift with it so
    text[start:end] == mention stays true (intended-semantics fix over the
    reference, which records pre-strip offsets)."""
    from xlink_spark.sources import conll as CL

    raw = (
        "-DOCSTART- (1 t)\n"
        "\n"
        "Japan\tB\tJapan\tJ\thttp://en.wikipedia.org/wiki/Japan\n"
        "won\n"
        "-DOCSTART- (2 t)\n"
        "tail\tB\ttail\tT\thttp://en.wikipedia.org/wiki/Tail\n"
    )
    p = tmp_path / "blank.conll"
    p.write_text(raw)
    uris = spark.createDataFrame(
        [("/wiki/Japan", "e_j"), ("/wiki/Tail", "e_t")], "uri string, entity_id string"
    )
    docs, gold = CL.read_aida_conll(spark, str(p), uris)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in gold.collect():
        assert texts[r["doc_id"]][r["start"]:r["end"]] == r["mention"], r
