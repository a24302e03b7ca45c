"""Span/markup layer (SURVEY §2.8 C1, §2.1 S11).

Three directions over the interleaved-span document model:

* ``parse_markup_to_spans`` — ingest XLink annotated text
  (``... [[eid|mention]] ...``, utils/mention.py:1-42) into the span-struct
  form. Implemented entirely with JVM expressions: regex split + posexplode +
  a window cumulative-length sum reproduces exact char offsets in the
  reconstructed plain text, with zero Python.
* ``plain_text`` / ``anchor_spans`` — project a spans column back to plain
  text and to the exploded anchor rows the pipeline consumes.
* ``spans_to_markup`` — serialize spans back to annotated text
  (OutputFormatter.py:12-104); used by the span-sequence equality check.

Golden case pinned in tests: the worked example in the reference docstring
utils/mention.py:5-10 (offsets 8/17/30 for the zh sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def is_markup_valid(text: Column | str) -> Column:
    """Bracket sanity (F9): balanced ``[[``/``]]``, no nesting.

    Reference: is_annotation_valid / is_corpus_line_valid
    (prepare_standard_input.py:67-96). A text is valid iff every ``[[`` is
    closed by a ``]]`` before the next ``[[`` and each anchor body contains
    exactly one ``|``. Extension beyond the reference: a pipe-less body
    with the ``media:`` prefix is a valid zero-width media marker (the form
    ``spans_to_markup`` emits for media spans).
    """
    c = F.col(text) if isinstance(text, str) else text
    opens = F.size(F.split(c, r"\[\[")) - 1
    closes = F.size(F.split(c, r"\]\]")) - 1
    # each post-'[[' segment must contain ']]' and, before it, either
    # exactly one '|' (anchor) or a media: marker (no '|')
    parts = F.slice(F.split(c, r"\[\["), 2, 1_000_000)
    each_ok = F.forall(
        parts,
        lambda p: p.contains("]]")
        & (
            (F.size(F.split(F.substring_index(p, "]]", 1), r"\|")) == 2)
            | (
                F.substring_index(p, "]]", 1).startswith("media:")
                & (F.size(F.split(F.substring_index(p, "]]", 1), r"\|")) == 1)
            )
        )
        & ~F.substring_index(p, "]]", 1).contains("[["),
    )
    return (opens == closes) & each_ok


def parse_markup_to_spans(
    df: DataFrame, doc_id: str = "doc_id", text: str = "text", out: str = "spans"
) -> DataFrame:
    """Annotated text → interleaved span array, pure DataFrame ops.

    Plain text is the input with each ``[[eid|mention]]`` replaced by
    ``mention``; every span's ``offset`` is its char position in that plain
    text (utils/mention.py:11-42 semantics). Extension beyond the
    reference: a pipe-less ``[[media:uri]]`` marker (the form
    ``spans_to_markup`` emits) parses back to a zero-width media span, so
    serialize → parse round-trips interleaved text+media documents
    span-for-span.

    Plan shape: one posexplode + one window (partitioned by doc, ordered by
    segment position) + groupBy(doc) collect — a single shuffle by doc_id,
    which at 100 TB is the natural partitioning anyway (doc_id is the
    pipeline's primary key; downstream per-doc ops reuse it).
    """
    parts = df.select(
        doc_id, F.posexplode(F.split(F.col(text), r"\[\[")).alias("pos", "part")
    )
    seg = parts.select(
        doc_id,
        "pos",
        F.when(F.col("pos") == 0, F.col("part")).alias("lead_text"),
        F.when(F.col("pos") > 0, F.substring_index("part", "]]", 1)).alias("body"),
        F.when(
            F.col("pos") > 0,
            F.expr("substring(part, length(substring_index(part, ']]', 1)) + 3)"),
        ).alias("tail_text"),
    ).select(
        doc_id,
        "pos",
        "lead_text",
        "tail_text",
        F.substring_index("body", "|", 1).alias("eid"),
        F.when(F.col("pos") > 0, F.substring_index("body", "|", -1)).alias("mention"),
        # zero-width media marker [[media:uri]] — spans_to_markup's media
        # form (the uri must not contain '|', or it reads as an anchor)
        F.coalesce(
            (F.col("pos") > 0)
            & F.col("body").startswith("media:")
            & ~F.col("body").contains("|"),
            F.lit(False),
        ).alias("is_media"),
        F.when(F.col("pos") > 0, F.expr("substring(body, 7)")).alias("media_uri"),
    )
    # plain-text contribution of segment i: pos 0 → lead_text; else
    # mention+tail (media contributes no plain text)
    seg = seg.withColumn(
        "contrib_len",
        F.when(F.col("pos") == 0, F.length(F.coalesce("lead_text", F.lit("")))).otherwise(
            F.when(F.col("is_media"), F.lit(0)).otherwise(
                F.length(F.coalesce("mention", F.lit("")))
            )
            + F.length(F.coalesce("tail_text", F.lit("")))
        ),
    )
    w = Window.partitionBy(doc_id).orderBy("pos")
    seg = seg.withColumn(
        "start",
        F.coalesce(F.sum("contrib_len").over(w) - F.col("contrib_len"), F.lit(0)).cast("int"),
    )
    # each segment yields up to 2 spans: [anchor?] + [text?]
    span_struct = "struct(kind, text, media_ref, offset)"
    spans = seg.select(
        doc_id,
        "pos",
        F.array_compact(
            F.array(
                F.when(
                    F.col("pos") == 0,
                    F.when(
                        F.length("lead_text") > 0,
                        F.struct(
                            F.lit("text").alias("kind"),
                            F.col("lead_text").alias("text"),
                            F.lit(None).cast("string").alias("media_ref"),
                            F.col("start").alias("offset"),
                        ),
                    ),
                ).otherwise(
                    F.when(
                        F.col("is_media"),
                        F.struct(
                            F.lit("media").alias("kind"),
                            F.lit(None).cast("string").alias("text"),
                            F.col("media_uri").alias("media_ref"),
                            F.col("start").alias("offset"),
                        ),
                    ).otherwise(
                        F.struct(
                            F.lit("anchor").alias("kind"),
                            F.col("mention").alias("text"),
                            F.col("eid").alias("media_ref"),
                            F.col("start").alias("offset"),
                        )
                    )
                ),
                F.when(
                    (F.col("pos") > 0) & (F.length("tail_text") > 0),
                    F.struct(
                        F.lit("text").alias("kind"),
                        F.col("tail_text").alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        (
                            F.col("start")
                            + F.when(F.col("is_media"), F.lit(0)).otherwise(
                                F.length(F.coalesce("mention", F.lit("")))
                            )
                        ).cast("int").alias("offset"),
                    ),
                ),
            )
        ).alias("seg_spans"),
    )
    collected = (
        spans.select(doc_id, F.posexplode("seg_spans").alias("sub", "span"), "pos")
        .groupBy(doc_id)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "sub", "span"))
            ).alias("ordered")
        )
        .select(doc_id, F.transform("ordered", lambda s: s["span"]).alias(out))
    )
    # docs whose text yields no spans (empty string) must survive with
    # spans=[] — posexplode drops them, so restore via left join.
    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    return (
        df.select(doc_id)
        .distinct()
        .join(collected, doc_id, "left")
        .withColumn(out, F.coalesce(F.col(out), empty))
    )


def plain_text(spans: Column | str) -> Column:
    """Reconstruct plain text: concat text-span text + anchor surfaces in order."""
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.concat_ws(
        "",
        F.transform(
            c, lambda s: F.when(s["kind"] == "media", F.lit("")).otherwise(
                F.coalesce(s["text"], F.lit(""))
            )
        ),
    )


def anchor_spans(df: DataFrame, doc_id: str = "doc_id", spans: str = "spans") -> DataFrame:
    """Explode anchors: (doc_id, start, end, surface, entity_id).

    The offsets come straight off the span structs — the per-row invariant
    (kind, text, media_ref, order) is never recomputed here.
    """
    a = df.select(
        doc_id, F.explode(F.filter(F.col(spans), lambda s: s["kind"] == "anchor")).alias("a")
    )
    return a.select(
        doc_id,
        F.col("a.offset").alias("start"),
        (F.col("a.offset") + F.length("a.text")).cast("int").alias("end"),
        F.col("a.text").alias("surface"),
        F.col("a.media_ref").alias("entity_id"),
    )


def spans_to_markup(spans: Column | str) -> Column:
    """Serialize spans → ``[[eid|mention]]`` annotated text (S11 inverse).

    Media spans serialize as ``[[media:uri]]`` markers (an extension — the
    reference has no media; OutputFormatter.py:12-104 covers text+anchor).
    ``parse_markup_to_spans`` reads the marker back to a media span as long
    as the uri contains no ``|``.
    """
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.concat_ws(
        "",
        F.transform(
            c,
            lambda s: F.when(
                s["kind"] == "anchor",
                F.concat(F.lit("[["), s["media_ref"], F.lit("|"), s["text"], F.lit("]]")),
            )
            .when(s["kind"] == "media", F.concat(F.lit("[[media:"), s["media_ref"], F.lit("]]")))
            .otherwise(F.coalesce(s["text"], F.lit(""))),
        ),
    )


def span_sequence_key(spans: Column | str) -> Column:
    """Canonical (kind, text, media_ref, order) sequence fingerprint.

    Used by the per-row span-sequence equality check (BASELINE.json
    input_hint): two documents are span-equal iff these strings are equal.
    """
    c = F.col(spans) if isinstance(spans, str) else spans
    return F.concat_ws(
        "\u0001",
        F.transform(
            c,
            lambda s: F.concat_ws(
                "\u0002",
                s["kind"],
                F.coalesce(s["text"], F.lit("\u0000")),
                F.coalesce(s["media_ref"], F.lit("\u0000")),
            ),
        ),
    )


def media_ref_audit(
    df: DataFrame,
    catalog: DataFrame,
    doc_id: str = "doc_id",
    spans: str = "spans",
    ref_col: str = "media_ref",
    broadcast_catalog: bool = True,
) -> DataFrame:
    """Per-document media-reference integrity over the interleaved span
    table: (doc_id, n_media, n_resolved, n_dangling, dangling_refs).

    A lake of interleaved text+media documents accumulates dangling
    ``media_ref``\\ s — blobs expired, moved, or never committed. This is
    the validation pass a writer runs before publishing a snapshot. Every
    document survives (zero media spans → counts 0, empty array), repeated
    refs inside one doc count per OCCURRENCE, and ``dangling_refs`` comes
    back sorted so the output is a pure function of the input.

    Scale shape: media spans are filtered BEFORE the explode, so only
    narrow (doc_id, ref) rows exist; the catalog joins as a distinct-ref
    list (broadcast by default — flip ``broadcast_catalog`` off when the
    media catalog itself is huge and let AQE pick the shuffle join); docs
    re-enter via one doc-keyed left join carrying three ints and the
    dangling list.
    """
    refs = df.select(
        doc_id,
        F.explode(
            F.filter(F.col(spans), lambda s: s["kind"] == "media")
        ).alias("s"),
    ).select(doc_id, F.col("s.media_ref").alias("_ref"))
    cat = (
        catalog.select(F.col(ref_col).alias("_ref"))
        .distinct()
        .withColumn("_known", F.lit(True))
    )
    if broadcast_catalog:
        cat = F.broadcast(cat)
    per_doc = (
        refs.join(cat, "_ref", "left")
        .groupBy(doc_id)
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(F.when(F.col("_known").isNull(), 1).otherwise(0)).alias(
                "n_dangling"
            ),
            F.array_sort(
                F.collect_list(F.when(F.col("_known").isNull(), F.col("_ref")))
            ).alias("dangling_refs"),
        )
    )
    return df.select(doc_id).join(per_doc, doc_id, "left").select(
        doc_id,
        F.coalesce("n_media", F.lit(0)).cast("long").alias("n_media"),
        (F.coalesce("n_media", F.lit(0)) - F.coalesce("n_dangling", F.lit(0)))
        .cast("long")
        .alias("n_resolved"),
        F.coalesce("n_dangling", F.lit(0)).cast("long").alias("n_dangling"),
        F.coalesce("dangling_refs", F.array().cast("array<string>")).alias(
            "dangling_refs"
        ),
    )
