"""Pipeline hyperparameters, pinned to the reference's values.

Every constant cites the reference file:line it was read from
(/root/reference). These are defaults; all operators accept overrides.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DictionaryConfig:
    """Offline dictionary-build thresholds (pipeline step 5)."""

    # drop mentions of length <= 1 — extract_mention_anchors.py:75, 170-173
    min_mention_len: int = 2
    # keep mention iff link(m) - self_links(m) >= 2 — extract_mention_anchors.py:161-183
    min_link_count: int = 2
    # keep mention iff link(m)/freq(m) >= 1e-4 — main.py:459
    min_link_prob: float = 1e-4
    # drop anchor/title surfaces longer than this many scanner tokens. The
    # reference's Aho-Corasick has no cap (scan cost is length-independent);
    # the n-gram formulations here scale with the LONGEST surface, so one
    # pathological 40-token anchor would multiply the corpus scan. Dropped
    # surfaces are undetectable rather than silently mis-counted: the cap
    # bounds detection, freq counting, and the dictionary identically.
    max_surface_words: int = 8


@dataclass(frozen=True)
class PredictorConfig:
    """Online predictor thresholds — xlink.py:27-36."""

    context_window: int = 50          # ctx chars each side — xlink.py:27
    # context-word segmentation: "ws" = whitespace (en, WordParser.py:81-83);
    # "cjk" = CJK chars as single tokens + non-CJK runs (the zh fallback —
    # the reference uses jieba, WordParser.py:76-79)
    context_tokenizer: str = "ws"
    prior_power: float = 0.02         # entity_popularity_power — xlink.py:28
    link_prob_th: float = 0.008       # mention gate — xlink.py:29
    believe_th: float = 0.2           # mention believe gate — xlink.py:30
    # no-prob (title-dict) path — xlink.py:32-36
    np_context_window: int = 50       # no_prob_context_words_window — xlink.py:32
    np_ctx_word_sim_th: float = 0.3
    np_seed_th: float = 0.45
    np_believe_th: float = 0.5
    np_words_weight: float = 0.5
    # reproduce the reference's two KNOWN BUGS for bit-parity runs against
    # its outputs: W5 stale-max (xlink.py:218-222 — last candidate wins the
    # seed pick) and W3 always-true merge check (xlink.py:299/310 — every
    # no-prob mention is dropped). Default = intended semantics.
    strict_reference_bugs: bool = False


@dataclass(frozen=True)
class ClusterConfig:
    """Transitive clustering (large-star/small-star CC) knobs."""

    match_threshold: float = 0.2      # edges = pairs with believe >= this


@dataclass(frozen=True)
class EngineConfig:
    dictionary: DictionaryConfig = field(default_factory=DictionaryConfig)
    predictor: PredictorConfig = field(default_factory=PredictorConfig)
    cluster: ClusterConfig = field(default_factory=ClusterConfig)
    # dictionary tables broadcast in the candidate explosion up to this many
    # rows; beyond it the candidate join shuffles and AQE's skew-join
    # splitting handles the hot surfaces
    broadcast_dict_max_rows: int = 5_000_000


DEFAULT = EngineConfig()
