"""Detection + conflict resolution + join-path detection (J1, W1/W2)."""

from __future__ import annotations

from xlink_spark.operators import detect as DT


def test_detect_longest_match_and_offsets(spark):
    sd = {"deep learning": (2, "ma"), "learning": (1, "ma"), "graph": (1, "ma")}
    docs = spark.createDataFrame(
        [("d1", "We study Deep Learning and graph theory")],
        "doc_id string, text string",
    )
    got = sorted(
        (r["start"], r["end"], r["surface"]) for r in DT.detect_mentions(docs, sd).collect()
    )
    text = "We study Deep Learning and graph theory"
    # all matches are emitted, including "learning" starting INSIDE
    # "deep learning" — resolve_conflicts picks winners, not the scanner
    assert got == [
        (text.index("Deep"), text.index("Deep") + len("deep learning"), "deep learning"),
        (text.index("Learning"), text.index("Learning") + len("learning"), "learning"),
        (text.index("graph"), text.index("graph") + 5, "graph"),
    ]


def test_detect_emits_overlapping_matches(spark):
    # a match beginning inside an earlier match IS emitted (the reference
    # trie emits all matches, MentionParser.py:53-68); solve_conflict picks
    # the winner. With "new york" + "york city" over "new york city", the
    # longer "york city" must be able to win.
    sd = {"new york": (2, "ma"), "york city": (2, "ma")}
    docs = spark.createDataFrame([("d1", "new york city")], "doc_id string, text string")
    raw = sorted(r["surface"] for r in DT.detect_mentions(docs, sd).collect())
    assert raw == ["new york", "york city"]
    won = [r["surface"] for r in DT.resolve_conflicts(DT.detect_mentions(docs, sd)).collect()]
    assert won == ["york city"]  # longest surface wins the overlap group


def test_detect_empty_and_nomatch_docs(spark):
    sd = {"x": (1, "ma")}
    docs = spark.createDataFrame(
        [("d1", ""), ("d2", "nothing here"), ("d3", "x marks")],
        "doc_id string, text string",
    )
    got = DT.detect_mentions(docs, sd).collect()
    assert [(r["doc_id"], r["surface"]) for r in got] == [("d3", "x")]


def test_resolve_conflicts_longest_wins(spark):
    # spans: [0,5) [3,9) [8,12) are one transitive group; [20,25) separate
    rows = [
        ("d", 0, 5, "aaaaa", "ma"),
        ("d", 3, 9, "bbbbbb", "ma"),
        ("d", 8, 12, "cccc", "ma"),
        ("d", 20, 25, "eeeee", "ma"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, start int, end int, surface string, parse_from string")
    got = sorted((r["start"], r["surface"]) for r in DT.resolve_conflicts(df).collect())
    assert got == [(3, "bbbbbb"), (20, "eeeee")]


def test_resolve_conflicts_weighted_ma_beats_tt(spark):
    rows = [
        ("d", 0, 4, "tttt", "tt"),
        ("d", 2, 5, "mmm", "ma"),  # shorter but higher weight
    ]
    df = spark.createDataFrame(rows, "doc_id string, start int, end int, surface string, parse_from string")
    got = [(r["surface"], r["parse_from"]) for r in DT.resolve_conflicts(df, weighted=True).collect()]
    assert got == [("mmm", "ma")]
    # unweighted: longest wins
    got2 = [r["surface"] for r in DT.resolve_conflicts(df, weighted=False).collect()]
    assert got2 == ["tttt"]


def test_join_path_detection_equals_broadcast_path(spark):
    """detect_mentions_join (dictionary-as-table, the big-dictionary path)
    must produce the same post-resolve_conflicts winners as the broadcast
    scanner on the same corpus."""
    sd = {
        "deep learning": (2, "ma"), "learning": (1, "ma"), "graph": (1, "ma"),
        "new york": (2, "ma"), "york city": (2, "ma"), "x": (1, "ma"),
    }
    docs = spark.createDataFrame(
        [
            ("d1", "We study Deep Learning and graph theory"),
            ("d2", "new york city has deep  learning labs"),  # double space: no match
            ("d3", ""),
            ("d4", "x marks the spot x"),
        ],
        "doc_id string, text string",
    )
    dict_df = spark.createDataFrame(
        [(s, pf) for s, (_, pf) in sd.items()], "mention string, parse_from string"
    )
    key = lambda df: sorted(
        (r["doc_id"], r["start"], r["end"], r["surface"], r["parse_from"])
        for r in DT.resolve_conflicts(df).collect()
    )
    bcast = key(DT.detect_mentions(docs, sd))
    joined = key(DT.detect_mentions_join(docs, dict_df))
    assert bcast == joined and len(bcast) > 0
    # the double-space doc matched "new york city"'s pieces but NOT the
    # space-normalized bigram "deep learning" — on BOTH paths
    assert not any(s == "deep learning" and d == "d2" for d, _, _, s, _ in bcast)


def test_detect_resolve_matches_reference_spec_randomized(spark):
    """Randomized parity with the reference's two-phase parse, spec'd
    independently in pure Python: parseText emits ALL dictionary matches
    (MentionParser.py:53-68), solve_conflict sweeps by start, groups
    transitive overlaps, and keeps the first longest surface per group
    (MentionParser.py:70-100). 300 random docs, one Spark pass."""
    import random
    import re

    vocab = ["a", "b", "c", "aa", "ab", "x"]
    surfaces = ["a", "a b", "b c", "aa", "ab c", "c", "a b c", "x a"]
    sd = {s: (len(s.split()), "ma") for s in surfaces}
    rng = random.Random(20260816)
    docs = [
        (f"d{k}", " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for k in range(300)
    ]

    def spec(text):
        toks = [(m.start(), m.end()) for m in re.finditer(r"\S+", text)]
        low = text.lower()
        # phase 1: ALL matches
        matches = []
        for i in range(len(toks)):
            for w in range(1, len(toks) - i + 1):
                s, e = toks[i][0], toks[i + w - 1][1]
                if low[s:e] in sd:
                    matches.append((s, e, low[s:e]))
        if not matches:
            return []
        # phase 2: solve_conflict sweep
        matches.sort(key=lambda m: m[0])
        out, group, end = [], [matches[0]], matches[0][1]
        def pick(g):
            best = None
            for item in g:
                if best is None or len(item[2]) > len(best[2]):
                    best = item
            return best
        for item in matches[1:]:
            if item[0] < end:
                group.append(item)
                end = max(end, item[1])
            else:
                out.append(pick(group))
                group, end = [item], item[1]
        out.append(pick(group))
        return out

    expected = {d: spec(t) for d, t in docs}
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got_rows = DT.resolve_conflicts(DT.detect_mentions(df, sd)).collect()
    got: dict[str, list] = {d: [] for d, _ in docs}
    for r in got_rows:
        got[r["doc_id"]].append((r["start"], r["end"], r["surface"]))
    for d, _ in docs:
        assert sorted(got[d]) == sorted(expected[d]), d


def test_cjk_char_granularity_detection(spark):
    """zh surfaces match INSIDE continuous CJK text (no whitespace) — the
    reference trie matches at char offsets; the scanner treats each CJK
    char as a token, and candidates are raw slices so no separator is
    injected. Mixed-script docs keep exact offsets."""
    sd = {"巴黎": (2, "ma"), "法国": (2, "ma"), "巴黎市区": (4, "ma"), "paris": (1, "ma")}
    text = "巴黎市区在法国 paris 旁边"
    docs = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    raw = sorted((r["start"], r["end"], r["surface"]) for r in DT.detect_mentions(docs, sd).collect())
    # ALL matches are emitted, nested same-start hits included (weighted
    # multi-dict resolution needs the shorter span to be able to win)
    assert (0, 2, "巴黎") in raw
    assert (0, 4, "巴黎市区") in raw
    assert (5, 7, "法国") in raw
    assert (8, 13, "paris") in raw
    won = sorted(r["surface"] for r in DT.resolve_conflicts(DT.detect_mentions(docs, sd)).collect())
    assert won == ["paris", "巴黎市区", "法国"]  # longest wins the zh overlap
    # join path produces identical winners on the same zh corpus
    dict_df = spark.createDataFrame(
        [(s, "ma") for s in sd], "mention string, parse_from string"
    )
    won_j = sorted(r["surface"] for r in DT.resolve_conflicts(DT.detect_mentions_join(docs, dict_df)).collect())
    assert won_j == won


def test_cjk_linking_end_to_end(spark, tmp_path):
    """zh corpus end to end: anchors -> dictionary (freq covers zh surfaces
    with no whitespace) -> detection -> linking."""
    from xlink_spark.operators.spans import plain_text
    from xlink_spark.plans.pipeline import build_dictionary, link_corpus
    from xlink_spark.plans.snapshots import SnapshotStore
    from pyspark.sql import functions as F

    from xlink_spark.operators.spans import parse_markup_to_spans

    raw = spark.createDataFrame(
        [
            ("z1", "[[e_bali|巴黎]]在[[e_fa|法国]]旁边巴黎很大巴黎法国"),
            ("z2", "[[e_bali|巴黎]][[e_fa|法国]]巴黎这是测试巴黎"),
        ],
        "doc_id string, text string",
    )
    docs = parse_markup_to_spans(raw)
    kb = spark.createDataFrame(
        [("e_bali", "巴黎"), ("e_fa", "法国")], "entity_id string, surface_norm string"
    )
    emb = spark.createDataFrame(
        [("e_bali", [1.0, 0.0]), ("e_fa", [0.0, 1.0])], "key string, vec array<double>"
    )
    d = build_dictionary(docs, kb, emb, store=SnapshotStore(str(tmp_path / "s")))
    # freq must cover the zh surfaces (no whitespace n-grams exist)
    freqs = {r["mention"]: r["freq"] for r in d.link_prob.select("mention", "freq_m").withColumnRenamed("freq_m", "freq").collect()}
    assert freqs.get("巴黎", 0) >= 4 and freqs.get("法国", 0) >= 2
    plain = docs.select("doc_id", plain_text("spans").alias("text"))
    links = link_corpus(plain, d, emb, emb)
    got = sorted((r["doc_id"], r["start"], r["surface"], r["entity_id"]) for r in links.collect())
    assert len(got) > 0
    assert all(e == {"巴黎": "e_bali", "法国": "e_fa"}[s] for _, _, s, e in got)
    # offsets are char-exact into the zh text
    t2 = {r["doc_id"]: r["text"] for r in plain.collect()}
    for doc, start, s, _ in got:
        assert t2[doc][start:start + len(s)] == s


def test_nested_same_start_hit_wins_weighted_resolution(spark):
    """A short 'ma' surface nested at the same start as a longer 'tt'
    surface must win weighted resolution — requires the scanner to emit
    nested same-start hits, not just the longest."""
    sd = {"paris": (1, "ma"), "paris hilton": (2, "tt")}
    docs = spark.createDataFrame([("d", "paris hilton")], "doc_id string, text string")
    raw = sorted((r["surface"], r["parse_from"]) for r in DT.detect_mentions(docs, sd).collect())
    assert raw == [("paris", "ma"), ("paris hilton", "tt")]
    won = [(r["surface"], r["parse_from"]) for r in DT.resolve_conflicts(DT.detect_mentions(docs, sd), weighted=True).collect()]
    assert won == [("paris", "ma")]  # weight beats length
