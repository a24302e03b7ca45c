"""Text scalar functions as native Spark column expressions.

Each function reimplements a reference helper as a JVM-side expression so it
stays inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Parenthetical subtitle: both full-width （…） and ASCII (…) forms.
_PARENTHETICAL = r"[（(][^）)]*[）)]$"


def surface_norm(title: Column | str) -> Column:
    """Normalized surface form — THE blocking key.

    Strips a trailing parenthetical disambiguator from an entity title and
    lower-cases: ``"矩阵（数学）" → "矩阵"``, ``"Matrix (math)" → "matrix"``.
    Reference: utils/dictionary.py:141-147 / modules/EntityManager.py:51-57
    (get_mention), which cut the title at the subtitle parenthesis; lowering
    mirrors mention lower-casing at extract_mention_anchors.py:41.
    """
    c = F.col(title) if isinstance(title, str) else title
    return F.lower(F.trim(F.regexp_replace(c, _PARENTHETICAL, "")))


def normalize_uri(uri: Column | str) -> Column:
    """Baidu/wiki URL normalization.

    Strips a ``?fromtitle=...`` query (dictionary.py:48-55), strips
    percent-encoded curly quotes ``%E2%80%9C…%E2%80%9D`` around the title
    segment (dictionary.py:86-90), lower-cases (dictionary.py:87,96,126).
    """
    c = F.col(uri) if isinstance(uri, str) else uri
    c = F.regexp_replace(c, r"\?fromtitle=[^&]*.*$", "")
    c = F.regexp_replace(c, r"%E2%80%9C|%E2%80%9D", "")
    return F.lower(F.trim(c))


def tokenize_ws(text: Column | str) -> Column:
    """Whitespace tokenization (en path of WordParser.py:81-83).

    Returns array<string> with empty tokens removed.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def tokens_lower(text: Column | str) -> Column:
    """Lower-cased whitespace tokens — the unit of the dictionary build."""
    c = F.col(text) if isinstance(text, str) else text
    return tokenize_ws(F.lower(c))


def tokens_lower_cjk(text: Column | str) -> Column:
    """CJK-aware lower-cased tokens as a PURE expression: each CJK char is
    its own token, non-CJK word runs stay whole — a char-unigram stand-in
    for C7's jieba segmentation, JVM-side so the context-word path stays
    inside codegen. zh context words then hit a char/word-keyed embedding
    table instead of matching nothing.
    """
    c = F.col(text) if isinstance(text, str) else text
    # (?U): Java \s is ASCII-only by default; Unicode mode matches the
    # Python scanner's tokenization (NBSP, ideographic space)
    return F.regexp_extract_all(F.lower(c), F.lit(r"(?U)[一-鿿]|[^\s一-鿿]+"), 0)
