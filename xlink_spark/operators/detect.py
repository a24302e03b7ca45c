"""Mention detection + candidate blocking (SURVEY §2.3 J1, §2.5 W1/W2).

The reference detects mentions with an Aho-Corasick automaton over each
document (MentionParser.py:53-68, generate_prob_files.py:65-82) and resolves
overlaps with a per-doc sweep (solve_conflict, MentionParser.py:70-100).

Spark-first redesign:

* ``detect_mentions`` — ``mapInPandas`` over (doc_id, text) batches with a
  **broadcast** surface dictionary; greedy longest-match n-gram scan at
  token granularity (char-exact offsets). One Python crossing, Arrow
  batched; the automaton/dict is deserialized once per executor via the
  broadcast, mirroring the reference's per-process singleton caches
  (xlink.py:38-67) at cluster scope.
* ``resolve_conflicts`` — W1/W2 as pure window functions: a running
  ``max(end)`` marks transitive-overlap group boundaries, then one
  ``row_number`` per group picks the winner (weight desc, length desc,
  start asc). No UDF, no heap — the reference's k-way heap merge
  (MentionParser.py:141-210) is an artifact of its one-pass parse.
* ``detect_mentions_join`` — the big-dictionary path: when the dictionary
  exceeds broadcast limits, the n-gram spans equi-join the dictionary as a
  table. The candidate explosion that follows (scoring.candidate_table)
  then shuffles on the surface key, and AQE's skew-join splitting
  (session.py) breaks up Zipf-head ("china"-like) surfaces.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_DETECTED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("surface", StringType(), False),
        StructField("parse_from", StringType(), False),
    ]
)

# Token boundaries for the scanner: each CJK character is its OWN token, so
# dictionary surfaces match at CHAR granularity inside continuous zh text —
# the reference's trie matches raw char offsets (MentionParser.py:53-68) and
# zh has no whitespace; non-CJK behavior (\S+ runs) is unchanged. Match
# candidates are RAW TEXT SLICES between token boundaries, so a zh surface
# like "巴黎" (no separator) compares equal to the slice directly.
CJK_TOKEN_PATTERN = r"[一-鿿]|[^\s一-鿿]+"
_TOKEN_RE = re.compile(CJK_TOKEN_PATTERN)
# Java-regex twin for JVM-side expressions: Python's \s is Unicode-aware
# (NBSP, ideographic space U+3000) while Java's defaults to ASCII — (?U)
# turns on UNICODE_CHARACTER_CLASS so both sides tokenize identically.
# (?U) is NOT valid Python regex syntax, hence two constants.
CJK_TOKEN_PATTERN_JAVA = "(?U)" + CJK_TOKEN_PATTERN


def surface_token_count(surface) -> "F.Column":
    """Scanner-token count of a dictionary surface (CJK chars count one
    each; whitespace-separated non-CJK words count one each) — the unit of
    ``max_words`` / n-gram limits, matching ``_TOKEN_RE`` exactly."""
    c = F.col(surface) if isinstance(surface, str) else surface
    return F.size(F.regexp_extract_all(c, F.lit(CJK_TOKEN_PATTERN_JAVA), 0))


def build_surface_dict(
    mention_anchors: DataFrame, title_entities: DataFrame | None = None
) -> dict[str, tuple[int, str]]:
    """Collect the detection dictionary to the driver for broadcast.

    Returns surface → (n_words, parse_from), where parse_from is 'ma'
    (anchor dict, weight 100) or 'tt' (title dict, weight 0) — the trie
    weights of MentionParser.py:141-210. 'ma' wins when both contain a
    surface.

    At 10^12-doc scale the 'ma' dict is bounded by the KB (~10^7 surfaces,
    ~100 MB) — broadcastable; beyond that, ``detect_mentions_join`` is the
    path.
    """
    d: dict[str, tuple[int, str]] = {}
    for r in (title_entities.select("mention").distinct().collect() if title_entities is not None else []):
        s = r["mention"]
        d[s] = (len(_TOKEN_RE.findall(s)), "tt")
    for r in mention_anchors.select("mention").distinct().collect():
        s = r["mention"]
        d[s] = (len(_TOKEN_RE.findall(s)), "ma")
    return d


def detect_mentions(
    docs_plain: DataFrame,
    surface_dict: dict[str, tuple[int, str]],
    max_words: int = 4,
) -> DataFrame:
    """Scan plain text for dictionary surfaces; emit candidate mentions.

    ALL dictionary matches at EVERY token position (the reference's Java
    trie parseText emits all matches, MentionParser.py:53-68; overlapping
    and nested hits included), lower-cased match, char-exact offsets into
    the original text. Overlaps are NOT resolved here — that is
    ``resolve_conflicts``'s job, as in the reference's two-phase parse.
    Emitting nested same-start hits matters for WEIGHTED resolution over a
    mixed ma+tt dictionary: a short 'ma' surface must be able to beat a
    longer same-start 'tt' surface, which a longest-per-start scanner would
    silently suppress.
    """
    spark = docs_plain.sparkSession
    # first-token index, built ONCE here and shipped with the dict — a
    # surface starting at position i must begin with the token AT i, so the
    # per-position probe depth is bounded by the longest surface sharing
    # that first token (building it inside the scan closure would re-scan
    # the whole dictionary per TASK, not per executor)
    first_max: dict[str, int] = {}
    for s_ in surface_dict:
        m0 = _TOKEN_RE.match(s_)
        ft = m0.group(0) if m0 else s_
        nw_ = len(_TOKEN_RE.findall(s_))
        if nw_ > first_max.get(ft, 0):
            first_max[ft] = nw_
    bc = spark.sparkContext.broadcast((surface_dict, first_max))
    limit = max(max_words, max((nw for nw, _ in surface_dict.values()), default=1))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sd, first_max = bc.value
        cols = ["doc_id", "start", "end", "surface", "parse_from"]
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not text:
                    continue
                toks = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
                i = 0
                n = len(toks)
                # lowering can change string LENGTH ("İ" → "i̇"), drifting
                # offsets off a pre-lowered copy. Every char maps to ≥1
                # char, so equal total length ⇔ 1:1 alignment — use the
                # cheap pre-lowered copy then, per-slice lowering otherwise
                low = text.lower()
                aligned = len(low) == len(text)
                while i < n:
                    a, b = toks[i][0], toks[i][1]
                    ft = low[a:b] if aligned else text[a:b].lower()
                    wmax = first_max.get(ft, 0)
                    for w in range(min(wmax, limit, n - i), 0, -1):
                        s, e = toks[i][0], toks[i + w - 1][1]
                        cand = low[s:e] if aligned else text[s:e].lower()
                        if cand in sd:
                            out.append((doc_id, s, e, cand, sd[cand][1]))
                    # always advance one token: matches beginning INSIDE an
                    # earlier match must still be emitted ("new york" +
                    # "york city" both reach resolve_conflicts, which picks
                    # the winner — matching the reference's two-phase parse)
                    i += 1
            yield pd.DataFrame(out, columns=cols)

    return docs_plain.select("doc_id", "text").mapInPandas(scan, _DETECTED)


_NGRAM = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("surface", StringType(), False),
    ]
)


def ngram_spans(
    docs_plain: DataFrame,
    max_words: int = 4,
    first_tokens: frozenset[str] | None = None,
) -> DataFrame:
    """Every token n-gram (n ≤ max_words) with char-exact offsets.

    The dictionary-free half of join-path detection: one Arrow-batched scan
    emits (doc_id, start, end, surface) where surface is the LOWERED RAW
    text slice — identical to what the broadcast scanner matches, so
    whitespace quirks ("a  b" never matches dict "a b") behave the same on
    both paths. Output is ~n_tokens × max_words narrow rows; no dictionary
    state is needed on executors.

    ``first_tokens``: optional prefilter — a surface starting at position i
    must begin with the token AT i, so positions whose token is absent from
    the dictionary's first-token set generate NOTHING. The set is much
    smaller than the dictionary (shared heads), so it stays broadcastable
    even when the dictionary itself does not; the downstream equi-join
    keeps correctness either way, this only shrinks the generated rows.
    """
    spark = docs_plain.sparkSession
    bc = spark.sparkContext.broadcast(first_tokens) if first_tokens is not None else None

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "start", "end", "surface"]
        allowed = bc.value if bc is not None else None
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not text:
                    continue
                toks = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]
                n = len(toks)
                low = text.lower()
                aligned = len(low) == len(text)  # see detect_mentions
                for i in range(n):
                    s = toks[i][0]
                    ft = low[s : toks[i][1]] if aligned else text[s : toks[i][1]].lower()
                    if allowed is not None and ft not in allowed:
                        continue
                    for w in range(1, min(max_words, n - i) + 1):
                        e = toks[i + w - 1][1]
                        out.append(
                            (doc_id, s, e, low[s:e] if aligned else text[s:e].lower())
                        )
            yield pd.DataFrame(out, columns=cols)

    return docs_plain.select("doc_id", "text").mapInPandas(scan, _NGRAM)


def first_token_set(
    surfaces: DataFrame, col: str = "mention", max_rows: int = 5_000_000
) -> frozenset[str] | None:
    """Distinct first scanner-tokens of a surface table, as a driver set —
    the n-gram generators' prefilter. None when the head set exceeds
    ``max_rows`` (pruning is an optimization, never required)."""
    heads = surfaces.select(
        F.regexp_extract(col, CJK_TOKEN_PATTERN_JAVA, 0).alias("ft")
    ).distinct()
    rows = heads.limit(max_rows + 1).collect()  # one job: size check + fetch
    if len(rows) > max_rows:
        return None
    return frozenset(r["ft"] for r in rows)


def detect_mentions_join(
    docs_plain: DataFrame,
    dictionary: DataFrame,
    max_words: int | None = None,
    first_token_max_rows: int = 5_000_000,
) -> DataFrame:
    """Join-path detection for dictionaries too large to broadcast.

    ``dictionary``: (mention, parse_from) AS A TABLE — never collected to
    the driver. Token n-grams equi-join the dictionary on the surface key;
    the Zipf-skewed head is handled by AQE skew-join splitting (session.py)
    and the probe side arrives pre-exploded, so no reducer owns a whole hot
    key's candidate work. Emits the same schema as ``detect_mentions`` and
    exactly the same matches as the broadcast scanner (both emit ALL
    dictionary hits, nested same-start spans included — required for
    weighted multi-dict resolution).
    """
    if max_words is None:
        row = dictionary.select(F.max(surface_token_count("mention")).alias("m")).first()
        max_words = int(row["m"]) if row and row["m"] else 1
    # first-token prefilter: the distinct-head set is far smaller than the
    # dictionary (shared heads), so it usually broadcasts even when the
    # dictionary can't; above the cap, skip pruning — the equi-join alone
    # is still correct, just with max_words x more generated rows
    first_tokens = first_token_set(dictionary, "mention", first_token_max_rows)
    grams = ngram_spans(docs_plain, max_words=max_words, first_tokens=first_tokens)
    d = dictionary.select(F.col("mention").alias("surface"), "parse_from").distinct()
    return grams.join(d, "surface", "inner").select(
        "doc_id", "start", "end", "surface", "parse_from"
    )


def resolve_conflicts(mentions: DataFrame, weighted: bool = False) -> DataFrame:
    """W1/W2: collapse transitively-overlapping mentions per doc.

    Group boundary trick: order spans by (start, end); a span starts a new
    group iff its start ≥ the running max(end) of all previous spans. Winner
    per group: highest trie weight first when ``weighted`` ('ma'=100 beats
    'tt'=0, MentionParser.py:183-189), then longest surface
    (MentionParser.py:84-89), then smallest start for determinism (the
    reference relies on Python sort stability; we pin an explicit order).
    """
    w_scan = (
        Window.partitionBy("doc_id")
        .orderBy("start", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = mentions.withColumn(
        "new_group",
        (F.col("start") >= F.coalesce(F.max("end").over(w_scan), F.lit(-1))).cast("int"),
    ).withColumn(
        "grp",
        F.sum("new_group").over(
            Window.partitionBy("doc_id").orderBy("start", "end").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    weight = (
        F.when(F.col("parse_from") == "ma", 100).otherwise(0)
        if weighted
        else F.lit(0)
    )
    pick = Window.partitionBy("doc_id", "grp").orderBy(
        weight.desc(), (F.col("end") - F.col("start")).desc(), F.col("start").asc()
    )
    return (
        grouped.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .drop("new_group", "grp", "rn")
    )
