"""Deterministic synthetic interleaved-span corpus + KB + embeddings + gold.

Implements FIXTURES.md §A: everything is a pure function of (seed, sizes), so
goldens are reproducible across runs and machines. The corpus follows the
authoritative input shape from BASELINE.json's input_hint:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Construction guarantees used by tests:
  * every anchor span's ``offset`` is its char offset in the reconstructed
    plain text (concatenation of text-span texts and anchor surfaces in span
    order; media spans contribute no characters) — mirrors the worked example
    at /root/reference/utils/mention.py:5-10;
  * surfaces are Zipf-skewed so a few head surfaces dominate (hot blocking
    keys, exercising salting);
  * ≥20 surfaces are ambiguous (2-5 entities), disambiguated by topic:
    a document's context words and its anchors' true entities share a topic,
    and embeddings cluster by topic, so context-cosine scoring can recover
    the gold entity — this is what makes pairwise F1 ≥ 0.99 achievable;
  * some KB entities have no embedding (exercises F4/F6 filters,
    main.py:289-306) — these are never used as gold labels;
  * ~10% of docs have zero anchors; ~5% contain an overlapping-surface
    construction ("alpha beta" vs "beta gamma") for conflict resolution
    (MentionParser.py:70-100).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Two-word surfaces are built from this vocabulary; context words are drawn
# from per-topic slices of it. Pure ASCII keeps offset math obvious in tests
# while zh-specific normalization is unit-tested separately on literals.
_VOCAB = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
    "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi", "rho",
    "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "river",
    "mountain", "forest", "desert", "ocean", "valley", "glacier", "canyon",
    "harbor", "island", "plateau", "tundra", "lagoon", "meadow", "summit",
    "basin", "copper", "silver", "golden", "iron", "cobalt", "nickel",
    "quartz", "basalt", "granite", "marble", "amber", "jade", "onyx",
    "topaz", "beryl", "garnet", "zircon", "spinel", "augite", "halite",
]

N_TOPICS = 8
EMB_DIM = 16


@dataclass
class SyntheticCorpus:
    """Plain pandas frames; convert with ``to_spark``/``spark.createDataFrame``."""

    documents: pd.DataFrame        # doc_id, spans(list of dict), topic (hidden)
    kb_entities: pd.DataFrame      # entity_id, title, sub_title, full_title, surface_norm, uris, source, lang
    word_embeddings: pd.DataFrame  # key(word), vec
    entity_embeddings: pd.DataFrame  # key(entity_id), vec
    gold_mentions: pd.DataFrame    # doc_id, start, end, surface, entity_id


def _unit(v: np.ndarray) -> list[float]:
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32).tolist()


def _topic_centers(rng: np.random.RandomState) -> np.ndarray:
    # well-separated unit centers
    c = rng.normal(size=(N_TOPICS, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def generate_corpus(
    seed: int = 42,
    n_docs: int = 500,
    n_entities: int = 120,
    anchors_per_doc: int = 4,
    context_words_per_anchor: int = 6,
) -> SyntheticCorpus:
    rng = np.random.RandomState(seed)
    centers = _topic_centers(rng)

    # ---- KB -------------------------------------------------------------
    # Surfaces: two-word combos. First 20 surfaces are ambiguous (2-5
    # entities, different topics + parenthetical sub_titles); the rest 1:1.
    # Surface vocabulary is DISJOINT from the context vocabulary (suffixed
    # forms): context words running in text must never accidentally form a
    # dictionary surface, which would create false "unambiguous" seeds and
    # spurious detections. (The engine handles such collisions — they are
    # simply wrong-by-construction in a corpus meant to pin the F1 gate.)
    surfaces: list[str] = []
    for i in range(n_entities):
        a = _VOCAB[(i * 7) % len(_VOCAB)]
        b = _VOCAB[(i * 13 + 5) % len(_VOCAB)]
        surfaces.append(f"{a}um {b}ex")
    ents = []
    eid = 0
    surface_to_eids: dict[str, list[str]] = {}
    n_ambig = 20
    for si, surf in enumerate(surfaces):
        fanout = 2 + (si % 4) if si < n_ambig else 1
        for k in range(fanout):
            e = f"e{eid:05d}"
            eid += 1
            topic = (si + k * 3 + 1) % N_TOPICS
            sub = f"（{_VOCAB[(topic * 5) % len(_VOCAB)]}）" if fanout > 1 else ""
            ents.append(
                dict(
                    entity_id=e,
                    title=surf.title(),
                    sub_title=sub,
                    full_title=surf.title() + sub,
                    surface_norm=surf,
                    uris=[f"http://kb.example/{e}"],
                    source="syn",
                    lang="en",
                    topic=topic,
                )
            )
            surface_to_eids.setdefault(surf, []).append(e)
    kb = pd.DataFrame(ents)

    # ---- Embeddings ------------------------------------------------------
    # ~8% of entities get NO embedding (F4/F6 path); never used as gold.
    # Only fanout-1 entities qualify: dropping one candidate of an ambiguous
    # surface would turn the survivor into a false "unambiguous" seed
    # (xlink.py:115-145) and poison its document's context-entity pool —
    # a real failure mode of the reference algorithm, exercised separately
    # in unit tests, but excluded from the F1-gate corpus by construction.
    fanout1 = kb[kb.groupby("surface_norm").entity_id.transform("count") == 1]
    no_emb = set(fanout1.entity_id[::7])
    ent_rows = []
    for _, r in kb.iterrows():
        if r.entity_id in no_emb:
            continue
        noise = np.random.RandomState(seed + 1000 + int(r.entity_id[1:])).normal(
            scale=0.10, size=EMB_DIM
        )
        ent_rows.append(dict(key=r.entity_id, vec=_unit(centers[r.topic] + noise)))
    entity_emb = pd.DataFrame(ent_rows)

    # Topic vocabulary: word w belongs to topic hash(w) % N_TOPICS; its
    # vector sits near that topic center.
    word_rows = []
    word_topic = {}
    for wi, w in enumerate(_VOCAB):
        t = wi % N_TOPICS
        word_topic[w] = t
        noise = np.random.RandomState(seed + 5000 + wi).normal(scale=0.12, size=EMB_DIM)
        word_rows.append(dict(key=w, vec=_unit(centers[t] + noise)))
    word_emb = pd.DataFrame(word_rows)
    topic_words = {t: [w for w in _VOCAB if word_topic[w] == t] for t in range(N_TOPICS)}

    linkable = kb[~kb.entity_id.isin(no_emb)].reset_index(drop=True)
    # Topical coherence: a document only anchors entities of its own topic —
    # the regularity the P(e|N) context-entity feature encodes (xlink.py:
    # 328-336). Per-topic surface pools with Zipf skew: rank r picked with
    # prob ∝ 1/(r+1), so head surfaces dominate (hot blocking keys).
    topic_surfaces: dict[int, list[str]] = {}
    topic_zipf: dict[int, np.ndarray] = {}
    for t in range(N_TOPICS):
        pool = sorted(linkable[linkable.topic == t].surface_norm.unique())
        w = 1.0 / (np.arange(len(pool)) + 1.0)
        topic_surfaces[t], topic_zipf[t] = pool, w / w.sum()

    # ---- Documents + gold -----------------------------------------------
    doc_rows, gold_rows = [], []
    for di in range(n_docs):
        drng = np.random.RandomState(seed * 1_000_003 + di)
        doc_id = f"d{di:06d}"
        topic = di % N_TOPICS
        spans: list[dict] = []
        plain_len = 0

        def add_text(words: list[str]) -> None:
            nonlocal plain_len
            t = " ".join(words) + " "
            spans.append(dict(kind="text", text=t, media_ref=None, offset=plain_len))
            plain_len += len(t)

        def add_anchor(surface: str, entity_id: str) -> None:
            nonlocal plain_len
            spans.append(
                dict(kind="anchor", text=surface, media_ref=entity_id, offset=plain_len)
            )
            gold_rows.append(
                dict(
                    doc_id=doc_id,
                    start=plain_len,
                    end=plain_len + len(surface),
                    surface=surface,
                    entity_id=entity_id,
                )
            )
            plain_len += len(surface)
            # trailing space so surfaces stay token-aligned
            spans.append(dict(kind="text", text=" ", media_ref=None, offset=plain_len))
            plain_len += 1
            # OOV insulation: pushes the next anchor's context words out of
            # this anchor's ±window and vice versa; OOV tokens are dropped
            # by the vocab-filter join (xlink.py:124-127), so they
            # contribute nothing to context vectors — like punctuation/stop
            # runs in real text.
            add_text([f"qq{di}x{len(spans)}n{j}" for j in range(8)])

        n_anchor = 0 if di % 10 == 9 else anchors_per_doc
        add_text(list(drng.choice(topic_words[topic], size=4)))
        for _ in range(n_anchor):
            # pick a surface of this doc's topic by Zipf rank; the gold
            # entity is the (unique) candidate of that topic.
            pool, pw = topic_surfaces[topic], topic_zipf[topic]
            surf = pool[drng.choice(len(pool), p=pw)]
            cands = linkable[linkable.surface_norm == surf]
            match = cands[cands.topic == topic]
            row = match.iloc[0]
            # context words advertise the TRUE entity's topic
            add_text(list(drng.choice(topic_words[int(row.topic)],
                                      size=context_words_per_anchor)))
            add_anchor(surf, row.entity_id)
        if di % 17 == 3:  # media span (opaque asset ref, zero-width)
            spans.append(
                dict(kind="media", text=None,
                     media_ref=f"asset://img/{doc_id}.jpg", offset=plain_len)
            )
        add_text(list(drng.choice(topic_words[topic], size=3)))
        doc_rows.append(dict(doc_id=doc_id, spans=spans, topic=topic))

    documents = pd.DataFrame(doc_rows)
    gold = pd.DataFrame(gold_rows, columns=["doc_id", "start", "end", "surface", "entity_id"])
    return SyntheticCorpus(
        documents=documents,
        kb_entities=kb.drop(columns=["topic"]),
        word_embeddings=word_emb,
        entity_embeddings=entity_emb,
        gold_mentions=gold,
    )


def to_spark(spark, corpus: SyntheticCorpus):
    """Create the five Spark DataFrames with explicit schemas."""
    from xlink_spark import schemas

    docs = spark.createDataFrame(
        corpus.documents[["doc_id", "spans"]].to_dict("records"), schema=schemas.DOCUMENTS
    )
    kb = spark.createDataFrame(
        corpus.kb_entities.to_dict("records"), schema=schemas.KB_ENTITIES
    )
    wemb = spark.createDataFrame(
        corpus.word_embeddings.to_dict("records"), schema=schemas.EMBEDDINGS
    )
    eemb = spark.createDataFrame(
        corpus.entity_embeddings.to_dict("records"), schema=schemas.EMBEDDINGS
    )
    gold = spark.createDataFrame(
        corpus.gold_mentions.to_dict("records"), schema=schemas.GOLD_MENTIONS
    )
    return docs, kb, wemb, eemb, gold
