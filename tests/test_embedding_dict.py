"""Dictionary file I/O (S4/S5), abstract embeddings (A9), word2vec (G3),
zh tokenization (C7), title marking (C14)."""

from __future__ import annotations

import importlib.util

import pytest
from pyspark.sql import functions as F

from xlink_spark.functions.text import make_tokenize_zh_udf
from xlink_spark.operators import embedding as EB
from xlink_spark.sources import corpus as CS
from xlink_spark.sources import dictionary as DI


def test_entity_dictionary_roundtrip(spark, tmp_path):
    lines = [
        "矩阵\t\t（数学）\t\thttp://kb/a::;http://kb/b?fromtitle=x\t\te1",
        "Graph\t\t\t\thttp://kb/g\t\te2",
        "bad line without enough columns",
    ]
    p = tmp_path / "dict.txt"
    p.write_text("\n".join(lines))
    kb, uris = DI.read_entity_dictionary(spark, str(p))
    rows = {r["entity_id"]: r for r in kb.collect()}
    assert set(rows) == {"e1", "e2"}
    assert rows["e1"]["full_title"] == "矩阵（数学）"
    assert rows["e1"]["surface_norm"] == "矩阵"
    assert rows["e2"]["surface_norm"] == "graph"
    u = {r["uri"] for r in uris.collect()}
    assert "http://kb/a" in u and "http://kb/b" in u  # ?fromtitle stripped
    # roundtrip through the writer
    out = tmp_path / "dict_out"
    DI.write_entity_dictionary(kb, str(out))
    kb2, _ = DI.read_entity_dictionary(spark, str(out))
    assert {r["entity_id"] for r in kb2.collect()} == {"e1", "e2"}



def test_strip_zh_spaces_matches_reference_regex(spark):
    """C5: a single space between two non-ASCII-letter chars is removed;
    two passes, as the reference loop rescans overlapping matches."""
    import re

    from xlink_spark.functions.text import strip_zh_spaces

    texts = ["中 文 字", "Graph theory", "矩阵 a 理论", "1 2 3", "中  文", ""]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["s"] for r in df.select(strip_zh_spaces("t").alias("s")).collect()]
    pat = r"([^a-zA-Z])( )([^a-zA-Z])"
    want = [re.sub(pat, r"\1\3", re.sub(pat, r"\1\3", t)) for t in texts]
    assert got == want
    assert got[:4] == ["中文字", "Graph theory", "矩阵 a 理论", "123"]


def test_entity_abstract_embedding(spark):
    kb = spark.createDataFrame(
        [("e1", "alpha beta"), ("e2", "unknownword")],
        "entity_id string, title string",
    )
    abstracts = spark.createDataFrame(
        [("e1", "gamma gamma filler")], "doc_id string, text string"
    )
    wemb = spark.createDataFrame(
        [("alpha", [1.0, 0.0]), ("beta", [0.0, 1.0]), ("gamma", [1.0, 1.0])],
        "key string, vec array<float>",
    )
    got = {r["key"]: r["vec"] for r in EB.entity_abstract_embedding(kb, abstracts, wemb).collect()}
    # e1: mean of alpha, beta, gamma, gamma = [(1+0+1+1)/4, (0+1+1+1)/4]
    assert got["e1"] == pytest.approx([0.75, 0.75])
    assert "e2" not in got  # no in-vocab tokens


def test_anchor_train_sentences_and_word2vec(spark, sdfs):
    docs, *_ = sdfs
    sents = EB.anchor_train_sentences(docs.limit(40))
    first = sents.first()["sentence"]
    assert any(t.startswith("ENTITY/") for t in first)
    emb = EB.train_word2vec(sents, dim=8, window=3, min_count=1, max_iter=1)
    rows = emb.collect()
    assert len(rows) > 0 and len(rows[0]["vec"]) == 8
    assert any(r["key"].startswith("ENTITY/") for r in rows)


def test_tokenize_zh_fallback(spark):
    udf = make_tokenize_zh_udf()
    df = spark.createDataFrame([("中文mixed words 123",), ("",)], "t string")
    got = [r["toks"] for r in df.select(udf("t").alias("toks")).collect()]
    assert got[1] == []
    toks = got[0]
    assert "mixed" in toks and "words" in toks and "123" in toks
    assert "中" in toks or "中文" in toks  # jieba word or char fallback


def test_mark_title_mentions(spark):
    df = spark.createDataFrame(
        [
            ("Alpha", "e1", "the Alpha paper on Alpha"),
            ("Beta", "e2", "already [[e2|Beta]] here"),
            ("Gamma", None, "no entity Gamma"),
        ],
        "title string, entity_id string, content string",
    )
    got = {r["title"]: r["content"] for r in CS.mark_title_mentions(df).collect()}
    assert got["Alpha"] == "the [[e1|Alpha]] paper on [[e1|Alpha]]"
    assert got["Beta"] == "already [[e2|Beta]] here"  # untouched (already anchored)
    assert got["Gamma"] == "no entity Gamma"


@pytest.mark.skipif(
    not importlib.util.find_spec("jieba"), reason="jieba optional extra not installed"
)
def test_tokenize_zh_jieba_exact(spark):
    """With the optional `jieba` extra installed, the zh tokenizer must use
    REAL jieba segmentation (reference WordParser.py:76-79) — multi-char
    dictionary words come back whole, not as char unigrams. Skipped in
    environments without the extra, where the pinned char-granularity
    fallback (test_tokenize_zh_fallback) is the contract."""
    import jieba

    udf = make_tokenize_zh_udf()
    df = spark.createDataFrame([("我爱北京天安门",)], "t string")
    toks = df.select(udf("t").alias("toks")).collect()[0]["toks"]
    expected = [w for w in jieba.cut("我爱北京天安门") if w.strip()]
    assert toks == expected
    assert any(len(w) > 1 for w in toks)  # real segmentation, not chars
