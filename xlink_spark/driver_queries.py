"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
parquet tables (/root/testdata/sf*). The XLink data model is projected onto
those tables with a documented mapping:

  * token  := whitespace token of lower(documents.text)   (a "mention")
  * entity := documents.source                            (20 sources)
  * the "annotated corpus" (anchors) := docs with lang='en'; the "plain
    corpus" (freq) := all docs — mirroring link(m) from annotations vs
    freq(m) from raw text (generate_prob_files.py:84-193)

Column names are aligned 1:1 between the Spark result and the oracle SQL
(the driver sorts columns by name and hashes values). All float aggregates
are rounded to 6 dp on BOTH sides to absorb summation-order ulp drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xlink_spark.operators import dedup as DD
from xlink_spark.operators import sampling as SAMP
from xlink_spark.operators import similarity as SIM
from xlink_spark.operators import textstats as TS
from xlink_spark.plans.storage import cut, hold, registry

Query = Callable[[SparkSession, str], DataFrame]

_T = lambda sf_dir, name: f"{sf_dir}/{name}.parquet"  # noqa: E731

# tokens of lower(text), empties removed, len>1 (F1 filter)
_TOKENS_SQL = (
    "select doc_id, lang, source, tok from (select doc_id, lang, source, "
    "unnest(regexp_split_to_array(lower(text), '\\s+')) as tok from documents) "
    "where length(tok) > 1"
)


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    )
    return toks.filter((F.col("tok") != "") & (F.length("tok") > 1))


# ---------------------------------------------------------------- dictionary
def q_freq_m(spark, sf_dir):
    """A4+F1: corpus frequency of every token (the freq(m) table)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy(F.col("tok").alias("mention"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )


SQL_FREQ_M = f"select tok as mention, count(*) as freq from ({_TOKENS_SQL}) group by 1"


def q_mention_anchors(spark, sf_dir):
    """A1: anchor counts per (mention, entity) over the annotated corpus."""
    return (
        _tokens(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .groupBy(F.col("tok").alias("mention"), F.col("source").alias("entity_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_MENTION_ANCHORS = (
    f"select tok as mention, source as entity_id, count(*) as cnt "
    f"from ({_TOKENS_SQL}) where lang = 'en' group by 1, 2"
)

_MA_SQL = SQL_MENTION_ANCHORS  # reused as a subquery below


def q_entity_prior(spark, sf_dir):
    """A5: P(e) = A(e,*)/A(*,*) via window sums."""
    ma = q_mention_anchors(spark, sf_dir)
    total = ma.agg(F.sum("cnt").alias("t"))
    return (
        ma.groupBy("entity_id")
        .agg(F.sum("cnt").alias("a_e"))
        .crossJoin(F.broadcast(total))
        .select("entity_id", F.round(F.col("a_e") / F.col("t"), 6).alias("prior"))
    )


SQL_ENTITY_PRIOR = (
    f"with ma as ({_MA_SQL}) select entity_id, "
    f"round(sum(cnt) / (select sum(cnt) from ma), 6) as prior from ma group by 1"
)


def q_m_given_e(spark, sf_dir):
    """A5: P(m|e) = A(e,m)/A(e,*)."""
    ma = q_mention_anchors(spark, sf_dir)
    w = Window.partitionBy("entity_id")
    return ma.select(
        "entity_id", "mention", F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("p")
    )


SQL_M_GIVEN_E = (
    f"with ma as ({_MA_SQL}) select entity_id, mention, "
    f"round(cnt / (sum(cnt) over (partition by entity_id)), 6) as p from ma"
)


def q_e_given_m(spark, sf_dir):
    """A5: P(e|m) = A(e,m)/A(*,m)."""
    ma = q_mention_anchors(spark, sf_dir)
    w = Window.partitionBy("mention")
    return ma.select(
        "mention", "entity_id", F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("p")
    )


SQL_E_GIVEN_M = (
    f"with ma as ({_MA_SQL}) select mention, entity_id, "
    f"round(cnt / (sum(cnt) over (partition by mention)), 6) as p from ma"
)


def q_link_prob(spark, sf_dir):
    """A6: link(m) from the annotated corpus / freq(m) from the full corpus."""
    ma = q_mention_anchors(spark, sf_dir)
    link = ma.groupBy("mention").agg(F.sum("cnt").alias("link_m"))
    freq = q_freq_m(spark, sf_dir)
    return link.join(freq, "mention").select(
        "mention",
        "link_m",
        F.col("freq").alias("freq_m"),
        F.round(F.col("link_m") / F.col("freq"), 6).alias("link_prob"),
    )


SQL_LINK_PROB = (
    f"with ma as ({_MA_SQL}), link as (select mention, sum(cnt)::bigint as link_m from ma group by 1), "
    f"freq as ({SQL_FREQ_M}) "
    f"select l.mention, l.link_m, f.freq as freq_m, round(l.link_m / f.freq, 6) as link_prob "
    f"from link l join freq f using (mention)"
)


def q_filter_anchors_f3(spark, sf_dir):
    """F3: keep mentions with link(m) ≥ 2 AND link(m)/freq(m) ≥ 0.3."""
    lp = q_link_prob(spark, sf_dir)
    kept = lp.filter((F.col("link_m") >= 2) & (F.col("link_m") / F.col("freq_m") >= 0.3))
    ma = q_mention_anchors(spark, sf_dir)
    return ma.join(kept.select("mention"), "mention", "left_semi")


SQL_FILTER_ANCHORS_F3 = (
    f"with ma as ({_MA_SQL}), lp as ({SQL_LINK_PROB}) "
    f"select ma.* from ma where ma.mention in "
    f"(select mention from lp where link_m >= 2 and link_m / freq_m >= 0.3)"
)


def q_refine_by_freq_f2(spark, sf_dir):
    """F2: left-semi join anchors against frequent tokens (freq ≥ 50)."""
    ma = q_mention_anchors(spark, sf_dir)
    freq = q_freq_m(spark, sf_dir).filter(F.col("freq") >= 50)
    return ma.join(freq.select("mention"), "mention", "left_semi")


SQL_REFINE_BY_FREQ_F2 = (
    f"with ma as ({_MA_SQL}), freq as ({SQL_FREQ_M}) "
    f"select ma.* from ma where ma.mention in (select mention from freq where freq >= 50)"
)


def q_title_expansion_j3(spark, sf_dir):
    """J3 (anti-join half): KB title surfaces absent from the anchor dict.

    KB surfaces := distinct words of part.p_name (len>1, lowered)."""
    part = spark.read.parquet(_T(sf_dir, "part"))
    surf = (
        part.select(F.explode(F.split(F.lower("p_name"), r"\s+")).alias("mention"))
        .filter((F.col("mention") != "") & (F.length("mention") > 1))
        .distinct()
    )
    ma = q_mention_anchors(spark, sf_dir).select("mention").distinct()
    return surf.join(ma, "mention", "left_anti")


SQL_TITLE_EXPANSION_J3 = (
    f"with surf as (select distinct tok as mention from (select "
    f"unnest(regexp_split_to_array(lower(p_name), '\\s+')) as tok from part) "
    f"where length(tok) > 1), ma as ({_MA_SQL}) "
    f"select mention from surf where mention not in (select distinct mention from ma)"
)


def q_doc_entity_resolution_j2(spark, sf_dir):
    """J2: two-stage resolution with coalesce fallback.

    Resolve each order's customer to a nation name: primary = customer join
    (uri-index analogue), fallback = o_custkey mod 25 (title-index
    analogue)."""
    orders = spark.read.parquet(_T(sf_dir, "orders"))
    cust = spark.read.parquet(_T(sf_dir, "customer"))
    nation = spark.read.parquet(_T(sf_dir, "nation"))
    primary = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
        "o_custkey",
        "left",
    )
    resolved = primary.withColumn(
        "nationkey",
        F.coalesce("c_nationkey", F.pmod(F.col("o_custkey"), F.lit(25)).cast("long")),
    )
    return (
        resolved.join(nation.select(F.col("n_nationkey").alias("nationkey"), "n_name"), "nationkey")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_DOC_ENTITY_RESOLUTION_J2 = (
    "select n.n_name, count(*) as n_orders from orders o "
    "left join customer c on o.o_custkey = c.c_custkey "
    "join nation n on n.n_nationkey = coalesce(c.c_nationkey, o.o_custkey % 25) "
    "group by 1"
)


# ------------------------------------------------------------------- windows
def q_conflict_groups_w1(spark, sf_dir):
    """W1: transitive interval-overlap grouping, longest-wins, per user.

    Intervals: [epoch(ts), epoch(ts) + value] per user_id from events."""
    ev = spark.read.parquet(_T(sf_dir, "events"))
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("start"),
        # floor, not cast: Spark's long cast truncates toward zero while
        # the DuckDB oracle floors — they diverge on negative fractions
        (F.unix_timestamp("ts") + F.floor("value")).alias("end"),
    )
    w_scan = (
        Window.partitionBy("user_id")
        .orderBy("start", "end", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = iv.withColumn(
        "new_group",
        (F.col("start") >= F.coalesce(F.max("end").over(w_scan), F.lit(-1))).cast("int"),
    ).withColumn(
        "grp",
        F.sum("new_group").over(
            Window.partitionBy("user_id")
            .orderBy("start", "end", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    pick = Window.partitionBy("user_id", "grp").orderBy(
        (F.col("end") - F.col("start")).desc(), F.col("event_id").asc()
    )
    return (
        grouped.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "start", "end")
    )


SQL_CONFLICT_GROUPS_W1 = """
with iv as (
  -- floor, not ::bigint: DuckDB's cast ROUNDS while Spark's cast truncates
  select user_id, event_id, floor(epoch(ts))::bigint as start,
         floor(epoch(ts))::bigint + floor(value)::bigint as "end"
  from events
), grouped as (
  select *,
    case when start >= coalesce(max("end") over (partition by user_id
         order by start, "end", event_id
         rows between unbounded preceding and 1 preceding), -1)
         then 1 else 0 end as new_group
  from iv
), grp as (
  select *, sum(new_group) over (partition by user_id
         order by start, "end", event_id
         rows between unbounded preceding and current row) as g
  from grouped
)
select user_id, event_id, start, "end" from (
  select *, row_number() over (partition by user_id, g
         order by ("end" - start) desc, event_id asc) as rn
  from grp
) where rn = 1
"""


def q_conflict_weighted_w2(spark, sf_dir):
    """W2: weighted multi-dict conflict resolution through the REAL
    resolve_conflicts operator — 'ma' (weight 100) beats 'tt' (weight 0)
    inside an overlap group regardless of span length, then longest wins.

    Intervals are deduped to one row per (user, start, end) so the winner
    pick is deterministic on both engines."""
    from xlink_spark.operators.detect import resolve_conflicts

    ev = spark.read.parquet(_T(sf_dir, "events"))
    iv = (
        ev.select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.unix_timestamp("ts").alias("start"),
            (F.unix_timestamp("ts") + F.floor("value")).alias("end"),
            (F.col("event_type") == "click").alias("_is_ma"),
            "event_id",
        )
        .groupBy("doc_id", "start", "end")
        .agg(F.min("event_id").alias("event_id"), F.max("_is_ma").alias("_ma"))
        .withColumn("parse_from", F.when(F.col("_ma"), "ma").otherwise("tt"))
        .drop("_ma")
    )
    won = resolve_conflicts(iv, weighted=True)
    return won.select("doc_id", "event_id", "start", "end", "parse_from")


SQL_CONFLICT_WEIGHTED_W2 = """
with iv0 as (
  select user_id::varchar as doc_id, floor(epoch(ts))::bigint as start,
         floor(epoch(ts))::bigint + floor(value)::bigint as "end",
         (event_type = 'click') as is_ma, event_id
  from events
), iv as (
  select doc_id, start, "end", min(event_id) as event_id,
         case when max(is_ma) then 'ma' else 'tt' end as parse_from
  from iv0 group by 1, 2, 3
), grouped as (
  select *,
    case when start >= coalesce(max("end") over (partition by doc_id
         order by start, "end"
         rows between unbounded preceding and 1 preceding), -1)
         then 1 else 0 end as new_group
  from iv
), grp as (
  select *, sum(new_group) over (partition by doc_id
         order by start, "end"
         rows between unbounded preceding and current row) as g
  from grouped
)
select doc_id, event_id, start, "end", parse_from from (
  select *, row_number() over (partition by doc_id, g
         order by (case when parse_from = 'ma' then 100 else 0 end) desc,
                  ("end" - start) desc, start asc) as rn
  from grp
) where rn = 1
"""


def q_top1_w4(spark, sf_dir):
    """W4: top-1 per group with deterministic tiebreak."""
    ev = spark.read.parquet(_T(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 6).alias("value"))
    )


SQL_TOP1_W4 = (
    "select user_id, event_id, round(value, 6) as value from ("
    "select *, row_number() over (partition by user_id order by value desc, event_id asc) rn "
    "from events) where rn = 1"
)


def q_seed_argmax_w5(spark, sf_dir):
    """W5: per-group argmax gated by a threshold (seed selection)."""
    ev = spark.read.parquet(_T(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("value") > 150.0))
        .select("user_id", "event_id")
    )


SQL_SEED_ARGMAX_W5 = (
    "select user_id, event_id from (select *, row_number() over "
    "(partition by user_id order by value desc, event_id asc) rn from events) "
    "where rn = 1 and value > 150.0"
)


def q_topk_parts_per_supplier(spark, sf_dir):
    """O2/top-k: 3 highest-revenue parts per supplier."""
    li = spark.read.parquet(_T(sf_dir, "lineitem"))
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("revenue").desc(), F.col("l_partkey").asc())
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("l_suppkey", "l_partkey", "revenue", "rnk")
    )


SQL_TOPK_PARTS_PER_SUPPLIER = (
    "with rev as (select l_suppkey, l_partkey, "
    "round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue "
    "from lineitem group by 1, 2) "
    "select l_suppkey, l_partkey, revenue, rnk from (select *, row_number() over "
    "(partition by l_suppkey order by revenue desc, l_partkey asc) rnk from rev) "
    "where rnk <= 3"
)


# -------------------------------------------------------------- aggregations
def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 (generic agg bench the pipeline reuses)."""
    li = spark.read.parquet(_T(sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_Q1_PRICING_SUMMARY = (
    "select l_returnflag, l_linestatus, round(sum(l_quantity), 4) as sum_qty, "
    "round(sum(l_extendedprice), 4) as sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price, "
    "round(avg(l_quantity), 6) as avg_qty, count(*) as count_order "
    "from lineitem where l_shipdate <= '1998-09-02' group by 1, 2"
)


def q_corpus_stats_a10(spark, sf_dir):
    """A10: candidate-cardinality histogram of the anchor dictionary."""
    ma = q_mention_anchors(spark, sf_dir)
    per_m = ma.groupBy("mention").agg(
        F.count(F.lit(1)).alias("n_cands"), F.sum("cnt").alias("links")
    )
    return per_m.agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum("links").alias("total_links"),
        F.sum(F.when(F.col("n_cands") == 1, 1).otherwise(0)).alias("n_unambiguous"),
        F.sum(F.when((F.col("n_cands") >= 2) & (F.col("n_cands") <= 5), 1).otherwise(0)).alias(
            "n_ambig_2_5"
        ),
        F.sum(F.when(F.col("n_cands") > 5, 1).otherwise(0)).alias("n_ambig_gt5"),
    )


SQL_CORPUS_STATS_A10 = (
    f"with ma as ({_MA_SQL}), per_m as (select mention, count(*) as n_cands, "
    f"sum(cnt) as links from ma group by 1) "
    f"select count(*) as n_mentions, sum(links)::bigint as total_links, "
    f"sum(case when n_cands = 1 then 1 else 0 end)::bigint as n_unambiguous, "
    f"sum(case when n_cands between 2 and 5 then 1 else 0 end)::bigint as n_ambig_2_5, "
    f"sum(case when n_cands > 5 then 1 else 0 end)::bigint as n_ambig_gt5 from per_m"
)


def q_eval_f1_a12(spark, sf_dir):
    """A12/J8: full-outer join P/R harness on two derived label sets.

    gold = click events; pred = events with value > 100."""
    ev = spark.read.parquet(_T(sf_dir, "events"))
    gold = ev.filter(F.col("event_type") == "click").select("event_id").withColumn("g", F.lit(1))
    pred = ev.filter(F.col("value") > 100).select("event_id").withColumn("p", F.lit(1))
    j = gold.join(pred, "event_id", "full_outer")
    return j.agg(
        F.sum(F.when(F.col("g").isNotNull() & F.col("p").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("g").isNull() & F.col("p").isNotNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("g").isNotNull() & F.col("p").isNull(), 1).otherwise(0)).alias("fn"),
    )


SQL_EVAL_F1_A12 = (
    "with gold as (select event_id, 1 as g from events where event_type = 'click'), "
    "pred as (select event_id, 1 as p from events where value > 100) "
    "select sum(case when g is not null and p is not null then 1 else 0 end)::bigint as tp, "
    "sum(case when g is null and p is not null then 1 else 0 end)::bigint as fp, "
    "sum(case when g is not null and p is null then 1 else 0 end)::bigint as fn "
    "from gold full outer join pred using (event_id)"
)


def q_merge_counts_a2(spark, sf_dir):
    """A2/U1: merge per-corpus counts (en + de sub-corpora) by re-aggregation."""
    toks = _tokens(spark, sf_dir)
    en = toks.filter(F.col("lang") == "en").groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    de = toks.filter(F.col("lang") == "de").groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        en.unionByName(de)
        .groupBy(F.col("tok").alias("mention"))
        .agg(F.sum("cnt").alias("cnt"))
    )


SQL_MERGE_COUNTS_A2 = (
    f"with toks as ({_TOKENS_SQL}), "
    f"en as (select tok, count(*) as cnt from toks where lang='en' group by 1), "
    f"de as (select tok, count(*) as cnt from toks where lang='de' group by 1), "
    f"u as (select * from en union all select * from de) "
    f"select tok as mention, sum(cnt)::bigint as cnt from u group by 1"
)


def q_out_links_u2(spark, sf_dir):
    """U2: per-doc distinct link targets (distinct tokens per doc)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("n_distinct"))
    )


SQL_OUT_LINKS_U2 = (
    f"select doc_id, count(distinct tok) as n_distinct from ({_TOKENS_SQL}) group by 1"
)


# -------------------------------------------------------------------- dedup
def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by content hash (keeper = min doc_id)."""
    docs = spark.read.parquet(_T(sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return DD.exact_duplicates(docs).select("content_hash", "n_docs", "keeper")


SQL_DEDUP_EXACT = (
    "select md5(text) as content_hash, count(*) as n_docs, "
    "min(doc_id::varchar) as keeper from documents group by 1"
)


def q_dedup_fingerprint(spark, sf_dir):
    """Prefix-fingerprint groups (boilerplate/header detector)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), TS.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


SQL_DEDUP_FINGERPRINT = """
with toks as (
  select doc_id::varchar as doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as t
  from documents
)
select md5(array_to_string(t[1:8], ' ')) as fp, count(*) as n_docs,
       min(doc_id) as keeper
from toks group by 1
"""


def _doc_pairs_corpus(spark, sf_dir):
    """documents ∪ a truncated copy (doc_id+100000): guaranteed near-dups.

    The copy keeps the first 60% of tokens, so (i, i+100000) pairs have
    Jaccard ≈ 0.6 over 3-gram shingles — a deterministic near-dup corpus
    derived purely from the input (both engines construct it identically).
    """
    # the test parquet is a single file (1-2 input splits): spread docs
    # across cores before the shingle explode — at real input scale the
    # scan has natural splits and this is a cheap no-op reshuffle
    par = spark.sparkContext.defaultParallelism
    docs = (
        spark.read.parquet(_T(sf_dir, "documents"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"), F.lower("text").alias("text")
        )
        .repartition(par, "doc_id")
    )
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("t"))
    trunc = toks.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice("t", 1, F.greatest((F.size("t") * 6 / 10).cast("int"), F.lit(1)))).alias(
            "text"
        ),
    )
    return docs.unionByName(trunc).withColumn("doc_id", F.col("doc_id").cast("string"))


_SQL_PAIRS_CORPUS = """
  select doc_id::varchar as doc_id, lower(text) as text from documents
  union all
  select (doc_id + 100000)::varchar as doc_id,
         array_to_string(t[1:greatest((len(t) * 6 // 10)::int, 1)], ' ') as text
  from (select doc_id, regexp_split_to_array(lower(text), '\\s+') as t from documents)
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 lexicographic-min md5 hashes over 3-shingles)."""
    corpus = _doc_pairs_corpus(spark, sf_dir)
    sh = DD.shingles(corpus, n=3)
    sig = DD.minhash_signatures(sh, num_hashes=8)
    return sig.select(
        "doc_id", *[F.element_at("sig", k + 1).alias(f"h{k}") for k in range(8)]
    )


def _sql_shingles(corpus_sql: str) -> str:
    return f"""
  with corpus as ({corpus_sql}),
  toks as (select doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') as t
           from corpus),
  grams as (
    select doc_id,
      case when len(t) >= 3 then
        list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' '))
      else [array_to_string(t, ' ')] end as g
    from toks
  )
  select distinct doc_id, unnest(g) as shingle from grams
  where len(g) > 0
"""


SQL_MINHASH_SIGNATURES = f"""
with sh as ({_sql_shingles(_SQL_PAIRS_CORPUS)})
select doc_id,
  {', '.join(f"min(md5('s{k}:' || shingle)) as h{k}" for k in range(8))}
from sh where shingle <> '' group by doc_id
"""


_LSH_MAX_BUCKET = 1000  # the cap is ACTIVE in the checked path (scale shape)


def q_lsh_jaccard_pairs(spark, sf_dir):
    """Full MinHash-LSH near-dup pipeline with exact-Jaccard verify ≥ 0.5.

    Runs WITH the degenerate-bucket cap on (the at-scale configuration);
    the oracle mirrors the cap, so the checked plan is the production one.
    """
    corpus = _doc_pairs_corpus(spark, sf_dir)
    return DD.minhash_dedup(
        corpus, shingle_n=3, num_hashes=8, bands=4, threshold=0.5,
        max_bucket=_LSH_MAX_BUCKET,
    )


SQL_LSH_JACCARD_PAIRS = f"""
with sh as ({_sql_shingles(_SQL_PAIRS_CORPUS)}),
sig as (
  select doc_id, {', '.join(f"min(md5('s{k}:' || shingle)) as h{k}" for k in range(8))}
  from sh where shingle <> '' group by doc_id
),
banded_all as (
  select doc_id, band, key from sig, (values (0), (1), (2), (3)) bands(band),
  lateral (select case band
     when 0 then h0 || '|' || h1 when 1 then h2 || '|' || h3
     when 2 then h4 || '|' || h5 else h6 || '|' || h7 end as key)
),
bucket_w as (select band, key, count(*) as w from banded_all group by 1, 2),
banded as (
  select banded_all.* from banded_all join bucket_w using (band, key)
  where w <= {_LSH_MAX_BUCKET}
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from banded a join banded b on a.band = b.band and a.key = b.key
  where a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) as sz from sh group by 1),
inter as (
  select c.doc_a, c.doc_b, count(*) as i
  from cand c
  join sh sa on sa.doc_id = c.doc_a
  join sh sb on sb.doc_id = c.doc_b and sb.shingle = sa.shingle
  group by 1, 2
)
select doc_a, doc_b, round(i / (za.sz + zb.sz - i), 6) as jaccard
from inter join sizes za on za.doc_id = doc_a join sizes zb on zb.doc_id = doc_b
where i / (za.sz + zb.sz - i) >= 0.5
"""


def q_neardup_clusters(spark, sf_dir):
    """Transitive near-dup clustering (dedup.neardup_clusters): the verified
    MinHash-LSH pairs of `lsh_jaccard_pairs` closed transitively via the
    iterative large/small-star CC job, min-doc_id survivor per cluster.
    Exercises chain closure (A~B, B~C ⇒ one 3-cluster even when A~C was
    never an LSH candidate) and the keep/drop survivor rule end to end; the
    oracle recomputes the closure independently with recursive SQL over
    string ids (the Spark side clusters on xxhash64 longs, so component
    EQUALITY — not the hash values — is what's checked)."""
    pairs = q_lsh_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return DD.neardup_clusters(pairs).orderBy("doc_id")


SQL_NEARDUP_CLUSTERS = f"""
with recursive pairs as ({SQL_LSH_JACCARD_PAIRS}),
undirected as (
  select doc_a as src, doc_b as dst from pairs
  union
  select doc_b, doc_a from pairs
),
walk (node, reach) as (
  -- full reachability closure: the min-label walk CTE can under-merge on
  -- general graphs (see SQL_ER_GOLDEN_RECORDS — 972 vs union-find's 669
  -- components on the FS match graph); closure is provably complete and
  -- near-dup components are small, so the row count stays bounded
  select src as node, dst as reach from undirected
  union
  select w.node, u.dst as reach
  from walk w join undirected u on u.src = w.reach
  where u.dst <> w.node
),
assigned as (
  select node as doc_id, least(node, min(reach)) as cluster_id
  from walk group by node
)
select doc_id, cluster_id, doc_id = cluster_id as keep from assigned
"""


def _sql_winnow_fps(corpus_sql: str, k: int = 5, w: int = 4) -> str:
    """DuckDB twin of dedup._winnow_fp_expr: (doc_id, fp) winnowing
    fingerprints. Same md5→mod token hash, same polynomial fold, same
    window-min selection — bit-identical values (smoke-verified)."""
    M, B = DD.WINNOW_MOD, DD.WINNOW_BASE
    return f"""
  with corpus as ({corpus_sql}),
  toks as (select doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as t
           from corpus),
  th as (select doc_id,
                list_transform(t, x -> ('0x' || substr(md5(x),1,15))::bigint % {M}) as h
         from toks),
  grams as (
    select doc_id,
      case when len(h) = 0 then [0]
           when len(h) >= {k} then
        list_transform(generate_series(1, len(h) - {k - 1}), i ->
          list_reduce(h[i:i+{k - 1}], (a, b) -> (a * {B} + b) % {M}))
      else [list_reduce(h, (a, b) -> (a * {B} + b) % {M})] end as g
    from th
  ),
  fps as (
    select doc_id,
      case when len(g) >= {w} then
        list_distinct(list_transform(generate_series(1, len(g) - {w - 1}),
                                     j -> list_min(g[j:j+{w - 1}])))
      else [list_min(g)] end as f
    from grams
  )
  select doc_id, unnest(f) as fp from fps
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (MOSS; Schleimer et al. '03) over the
    near-dup pairs corpus, summarized per doc: fingerprint count, min/max
    and mod-M checksum — every selected hash value is pinned through the
    checksum while the compared relation stays one row per doc."""
    corpus = _doc_pairs_corpus(spark, sf_dir)
    fps = DD.winnow_fingerprints(corpus, k=5, w=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
        F.pmod(F.sum("fp"), F.lit(DD.WINNOW_MOD)).alias("fp_checksum"),
    )


SQL_WINNOW_FINGERPRINTS = f"""
with fp as ({_sql_winnow_fps(_SQL_PAIRS_CORPUS)})
select doc_id, count(*) as n_fps, min(fp) as fp_min, max(fp) as fp_max,
       (sum(fp) % {DD.WINNOW_MOD})::bigint as fp_checksum
from fp group by doc_id
"""


_WINNOW_MAX_BUCKET = 1000  # boilerplate-fingerprint cap, ACTIVE in the checked path


def q_winnow_overlap_pairs(spark, sf_dir):
    """Copied-passage detection: doc pairs sharing ≥2 winnowing fingerprints
    (each truncated copy shares its whole prefix with its source). The
    degenerate-bucket cap is ON — the at-scale configuration."""
    corpus = _doc_pairs_corpus(spark, sf_dir)
    return DD.winnow_overlap_pairs(
        corpus, k=5, w=4, min_shared=2, max_bucket=_WINNOW_MAX_BUCKET
    )


SQL_WINNOW_OVERLAP_PAIRS = f"""
with fp as ({_sql_winnow_fps(_SQL_PAIRS_CORPUS)}),
bw as (select fp, count(*) as n from fp group by 1),
capped as (select fp.doc_id, fp.fp from fp join bw using (fp) where n <= {_WINNOW_MAX_BUCKET})
select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_shared
from capped a join capped b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
having count(*) >= 2
"""


def q_contamination(spark, sf_dir):
    """Train/test decontamination: corpus docs sharing ≥2 distinct 3-gram
    shingles with a benchmark stand-in (the first-60%-token truncations of
    every 97th doc — partial overlap, derived identically by both engines).
    The eval shingle set broadcasts; the corpus is scanned once."""
    par = spark.sparkContext.defaultParallelism
    base = (
        spark.read.parquet(_T(sf_dir, "documents"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), F.lower("text").alias("text"))
        .repartition(par, "doc_id")
    )
    corpus = base.withColumn("doc_id", F.col("doc_id").cast("string"))
    t = base.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.split("text", r"\s+").alias("t")
    )
    eval_docs = t.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws(
            " ", F.slice("t", 1, F.greatest((F.size("t") * 6 / 10).cast("int"), F.lit(1)))
        ).alias("text"),
    )
    return DD.contamination_hits(corpus, eval_docs, ngram=3, min_hits=2)


_SQL_EVAL_CORPUS = """
  select doc_id::varchar as doc_id,
         array_to_string(t[1:greatest((len(t) * 6 // 10)::int, 1)], ' ') as text
  from (select doc_id, regexp_split_to_array(lower(text), '\\s+') as t
        from documents where doc_id % 97 = 0)
"""

SQL_CONTAMINATION = f"""
with csh as ({_sql_shingles("select doc_id::varchar as doc_id, lower(text) as text from documents")}),
esh as (select distinct shingle from ({_sql_shingles(_SQL_EVAL_CORPUS)}) where shingle <> '')
select c.doc_id, count(*) as hits
from csh c join esh e using (shingle)
where c.shingle <> ''
group by 1
having count(*) >= 2
"""


# ---------------------------------------------------------------- textstats
def q_token_counts(spark, sf_dir):
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        TS.token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


SQL_TOKEN_COUNTS = (
    "select doc_id::varchar as doc_id, "
    "len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) as n_tokens, "
    "length(text) as n_chars_computed from documents"
)


def q_quality_scores(spark, sf_dir):
    """Micro-quantized (floor(x·1e6)): engine round() implementations differ
    at exact decimal midpoints, floor of identical IEEE products never does."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.floor(TS.punct_ratio_raw("text") * 1e6).cast("long").alias("punct_ratio_u"),
        F.floor(TS.stopword_ratio_raw("text", "en") * 1e6).cast("long").alias(
            "stopword_ratio_en_u"
        ),
        F.floor(TS.quality_score_raw("text") * 1e6).cast("long").alias("quality_u"),
    )


_SW_EN = "['the','and','of','to','in','is','that','with','for','as']"
SQL_QUALITY_SCORES = f"""
with base as (
  select doc_id::varchar as doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as toks,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) as n_punct
  from documents
), r as (
  select doc_id,
    case when length(text) > 0 then n_punct / length(text) else 0.0 end as pr_raw,
    case when len(toks) > 0 then
      len(list_filter(toks, x -> list_contains({_SW_EN}, x))) / len(toks)
      else 0.0 end as sw_raw,
    length(text) as n_chars
  from base
)
select doc_id,
  floor(pr_raw * 1e6)::bigint as punct_ratio_u,
  floor(sw_raw * 1e6)::bigint as stopword_ratio_en_u,
  case when n_chars > 0 then
    floor((0.4 * least(n_chars / 1000.0, 1.0)
         + 0.3 * (1.0 - least(pr_raw * 5.0, 1.0))
         + 0.3 * least(sw_raw * 5.0, 1.0)) * 1e6)::bigint
  else 0 end as quality_u
from r
"""


def q_quality_quantiles(spark, sf_dir):
    """Threshold-selection quantiles of the quality score
    (textstats.histogram_quantiles): the sort-free integer-histogram path —
    bucket = floor(quality·1e6) counts (grain bounded by the resolution,
    never the corpus), cumulative over the bucket-grain histogram, quantile
    = first bucket reaching ceil(p·n) in exact bigint arithmetic. This is
    the operator behind every min_quality-style curation gate."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    scored = docs.select(TS.quality_score_raw("text").alias("quality"))
    return TS.histogram_quantiles(
        scored, "quality", [100000, 250000, 500000, 750000, 900000, 990000]
    )


SQL_QUALITY_QUANTILES = f"""
with qs as ({SQL_QUALITY_SCORES}),
hist as (select quality_u as bucket, count(*)::bigint as cnt from qs group by 1),
cum as (
  select bucket,
         sum(cnt) over (order by bucket
                        rows between unbounded preceding and current row)::bigint
           as cum
  from hist
),
tot as (select max(cum) as n from cum),
probs(p_micro) as (
  values (100000), (250000), (500000), (750000), (900000), (990000)
),
ranked as (
  select p_micro::bigint as p_micro,
         ((p_micro::bigint * n + 999999) // 1000000)::bigint as rank
  from probs, tot
)
select p_micro, rank, min(bucket) as bucket,
       round(min(bucket) / 1000000.0, 6) as q
from ranked join cum on cum >= rank
group by 1, 2
"""


def q_language_id(spark, sf_dir):
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return TS.language_id(docs).select(
        F.col("doc_id").cast("string").alias("doc_id"), "pred_lang"
    )


def _sql_lang_scores() -> str:
    parts = []
    for lang, words in TS.STOPWORDS.items():
        if lang == "zh":
            terms = " + ".join(
                f"(length(text) - length(replace(text, '{w}', ''))) / {len(w)}.0" for w in words
            )
            parts.append(f"({terms}) as score_{lang}")
        else:
            arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
            parts.append(
                f"len(list_filter(toks, x -> list_contains({arr}, x)))::double as score_{lang}"
            )
    return ", ".join(parts)


SQL_LANGUAGE_ID = f"""
with base as (
  select doc_id::varchar as doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as toks
  from documents
), s as (
  select doc_id, {_sql_lang_scores()} from base
)
select doc_id,
  case
    when score_de > 0 and score_de >= score_en and score_de >= score_es
         and score_de >= score_fr and score_de >= score_zh then 'de'
    when score_en > 0 and score_en > score_de and score_en >= score_es
         and score_en >= score_fr and score_en >= score_zh then 'en'
    when score_es > 0 and score_es > score_de and score_es > score_en
         and score_es >= score_fr and score_es >= score_zh then 'es'
    when score_fr > 0 and score_fr > score_de and score_fr > score_en
         and score_fr > score_es and score_fr >= score_zh then 'fr'
    when score_zh > 0 and score_zh > score_de and score_zh > score_en
         and score_zh > score_es and score_zh > score_fr then 'zh'
    else 'und' end as pred_lang
from s
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document (dup-line fraction +
    top-bigram fraction, micro-units)."""
    docs = spark.read.parquet(_T(sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return TS.repetition_stats(docs)


SQL_REPETITION_STATS = """
with lines as (
  select doc_id::varchar as doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') as ls
  from documents
),
base as (
  select doc_id, len(ls) as n_lines,
    case when len(ls) > 0 then
      floor((1.0 - len(list_distinct(ls))::double / len(ls)::double) * 1e6)::bigint
    else 0 end as dup_line_frac_u
  from lines
),
toks as (
  select doc_id::varchar as doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as t
  from documents
),
grams as (
  select doc_id, unnest(
    case when len(t) >= 2 then
      list_transform(generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' '))
    else []::varchar[] end
  ) as gram from toks
),
per as (select doc_id, gram, count(*) as c from grams group by 1, 2),
top as (
  select doc_id,
         floor(max(c)::double / sum(c)::double * 1e6)::bigint as top_bigram_frac_u
  from per group by 1
)
select b.doc_id, b.n_lines, b.dup_line_frac_u,
       coalesce(t.top_bigram_frac_u, 0) as top_bigram_frac_u
from base b left join top t using (doc_id)
"""


def q_redact_pii(spark, sf_dir):
    """PII scrub over the corpus with a deterministic synthesized footer
    (both engines append the same 'contact' line, so the email/phone
    patterns actually fire on every row)."""
    docs = spark.read.parquet(_T(sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return TS.redact_pii(docs)


SQL_REDACT_PII = f"""
with d as (
  select doc_id::varchar as doc_id,
         text || ' contact: user' || doc_id::varchar
              || '@example.com or +1 (555) 010-' || doc_id::varchar as text
  from documents
),
ne as (
  select doc_id, text,
         regexp_replace(text, '{TS.PII_EMAIL_RE}', '<EMAIL>', 'g') as no_email
  from d
)
select doc_id,
  regexp_replace(no_email, '{TS.PII_PHONE_RE}', '<PHONE>', 'g') as redacted,
  len(regexp_extract_all(text, '{TS.PII_EMAIL_RE}')) as n_emails,
  len(regexp_extract_all(no_email, '{TS.PII_PHONE_RE}')) as n_phones
from ne
"""


# --------------------------------------------------------------- similarity
def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id % 50 = 0)."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return SIM.brute_force_topk(queries, emb, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


SQL_ANN_TOPK = """
with q as (select vec_id as query_id, embedding as qv from embeddings where vec_id % 50 = 0),
scored as (
  select q.query_id, c.vec_id as neighbor_id,
         round(list_cosine_similarity(q.qv, c.embedding), 6) as cos
  from q, embeddings c where c.vec_id <> q.query_id
)
select query_id, neighbor_id, rank from (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= 5
"""


_SRP_BITS = 4  # 16 buckets over the sf-test embedding tables
_SRP_SEED = 42
_EMB_DIM = 64  # TESTDATA.md: embeddings.embedding is float[64] at every sf


def _srp_bucket_sql(vec_col: str = "embedding") -> str:
    """DuckDB expression for the SAME SRP bucket similarity.srp_buckets
    computes: the hyperplanes are seed-derived literals, identical on both
    engines (float64 repr round-trips exactly)."""
    from xlink_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_EMB_DIM, _SRP_BITS, _SRP_SEED)
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(case when list_dot_product({vec_col}, {arr}) > 0 then {1 << i} else 0 end)"
        )
    return " + ".join(terms)


def q_ann_topk_srp(spark, sf_dir):
    """SRP-bucketed ANN top-5 — the at-scale path (equi-join on bucket, no
    cross join). All-pairs: every vector queries within its own bucket."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings")).select("vec_id", "embedding")
    return SIM.bucketed_topk(
        emb, dim=_EMB_DIM, k=5, bits=_SRP_BITS, seed=_SRP_SEED
    ).select("query_id", "neighbor_id", "rank")


SQL_ANN_TOPK_SRP_TEMPLATE = """
with b as (select vec_id, embedding, {bucket} as bucket from embeddings),
scored as (
  select a.vec_id as query_id, c.vec_id as neighbor_id,
         round(list_cosine_similarity(a.embedding, c.embedding), 6) as cos
  from b a join b c on a.bucket = c.bucket and a.vec_id <> c.vec_id
)
select query_id, neighbor_id, rank from (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= 5
"""


_IVF_NPROBE = 2
_IVF_N_CENTROIDS = 16  # embeddings with vec_id < 16 serve as the frozen quantizer


def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN top-5 — the second scale path (equi-join on cluster).

    The coarse quantizer is FROZEN data-derived centroids: the embeddings
    with ``vec_id < 16`` stand in for an offline-trained KMeans artifact
    (the production serving shape — a quantizer is trained once, then served
    as a tiny constant; it is never refit inside a query). Both engines
    select the SAME rows as centroids, so assignment, nprobe ranking and the
    in-cluster top-k are bit-portable. All-pairs like ann_topk_srp.
    """
    emb = spark.read.parquet(_T(sf_dir, "embeddings")).select("vec_id", "embedding")
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_N_CENTROIDS).collect()
    )
    return SIM.ivf_topk(
        emb, k=5, nprobe=_IVF_NPROBE, centroids=cents
    ).select("query_id", "neighbor_id", "rank")


# the oracle mirrors the engine's exact quantizer arithmetic: full
# d2 = v·v − 2·v·c + c·c on DOUBLE lists (sequential folds on both engines),
# ties broken by cluster id — then the same equi-join + top-k window. The
# SAME SQL covers both engine assignment paths (literal expression and
# broadcast-join ranking) because they are value-identical by construction.
def _sql_ivf(n_centroids: int, nprobe: int) -> str:
    return f"""
with cent as (
  select vec_id as cluster, embedding::DOUBLE[] as cvec
  from embeddings where vec_id < {n_centroids}
),
r as (
  select e.vec_id, e.embedding, c.cluster,
         row_number() over (
           partition by e.vec_id
           order by list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                  - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec)
                  + list_dot_product(c.cvec, c.cvec) asc,
                  c.cluster asc
         ) as pr
  from embeddings e cross join cent c
),
assigned as (select vec_id as neighbor_id, embedding as nv, cluster from r where pr = 1),
probes as (select vec_id as query_id, embedding as qv, cluster from r where pr <= {nprobe}),
scored as (
  select p.query_id, a.neighbor_id,
         round(list_cosine_similarity(p.qv, a.nv), 6) as cos
  from probes p join assigned a using (cluster)
  where a.neighbor_id <> p.query_id
)
select query_id, neighbor_id, rank from (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id asc) as rank
  from scored
) where rank <= 5
"""


SQL_ANN_TOPK_IVF = _sql_ivf(_IVF_N_CENTROIDS, _IVF_NPROBE)

# the join-quantizer configuration: 256 frozen centroids (clipped to the
# table when the sf is tiny), forced through the broadcast-join assignment
_IVF_C256 = 256
SQL_ANN_TOPK_IVF_C256 = _sql_ivf(_IVF_C256, _IVF_NPROBE)


def q_ann_topk_ivf_c256(spark, sf_dir):
    """IVF ANN through the LARGE-quantizer path: 256 frozen centroids force
    assignment onto the broadcast-centroid-table join (literal_centroid_max
    =32 guarantees the join path even at tiny sf where fewer than 256
    centroid rows exist) — the 10⁴-10⁵-cluster regime's plan shape, checked
    against the same full-d² oracle as the literal path."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings")).select("vec_id", "embedding")
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_C256).collect()
    )
    return SIM.ivf_topk(
        emb, k=5, nprobe=_IVF_NPROBE, centroids=cents, literal_centroid_max=32
    ).select("query_id", "neighbor_id", "rank")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over embeddings ∪ exact twins: nearest-frozen-centroid
    clusters (same quantizer rows as ann_topk_ivf), min-id survivor per
    cosine-0.999 neighborhood. Twins always share a cluster, so every twin
    is dropped; output is the full (vec_id, cluster, kept) accounting."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings")).select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0)).alias("embedding"),
    )
    both = emb.unionByName(twin)
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_N_CENTROIDS).collect()
    )
    out = DD.semantic_dedup(both, cents, threshold=0.999)
    return out.select("vec_id", "cluster", F.col("kept").cast("int").alias("kept"))


SQL_SEMANTIC_DEDUP = f"""
with uni as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 100000 as vec_id, embedding from embeddings
),
cent as (
  select vec_id as cluster, embedding::DOUBLE[] as cvec
  from embeddings where vec_id < {_IVF_N_CENTROIDS}
),
r as (
  select u.vec_id, u.embedding, c.cluster,
         row_number() over (
           partition by u.vec_id
           order by list_dot_product(u.embedding::DOUBLE[], u.embedding::DOUBLE[])
                  - 2 * list_dot_product(u.embedding::DOUBLE[], c.cvec)
                  + list_dot_product(c.cvec, c.cvec) asc,
                  c.cluster asc
         ) as pr
  from uni u cross join cent c
),
assigned as (select vec_id, embedding, cluster from r where pr = 1),
dropped as (
  select distinct b.vec_id
  from assigned a join assigned b on a.cluster = b.cluster and a.vec_id < b.vec_id
  where round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.999
)
select vec_id, cluster,
       (vec_id not in (select vec_id from dropped))::int as kept
from assigned
"""


def q_knn_vote(spark, sf_dir):
    """kNN label vote over each query's top-5 SRP-bucketed neighbors.

    The vote rides the AT-SCALE ANN (equi-join on bucket), not the crossJoin
    baseline; queries are the vec_id % 50 == 0 subset — the filter sits on
    the window's partition key, so it pushes below the rank."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings"))
    topk = SIM.bucketed_topk(
        emb.select("vec_id", "embedding"),
        dim=_EMB_DIM, k=5, bits=_SRP_BITS, seed=_SRP_SEED,
    ).filter(F.col("query_id") % 50 == 0)
    return SIM.knn_label_vote(topk, emb.select("vec_id", "label"))


SQL_KNN_VOTE_TEMPLATE = """
with topk as ({srp_topk}),
votes as (
  select t.query_id, e.label as nlabel, count(*) as votes
  from topk t join embeddings e on e.vec_id = t.neighbor_id
  where t.query_id % 50 = 0
  group by 1, 2
)
select query_id, nlabel as pred_label, votes from (
  select *, row_number() over (partition by query_id order by votes desc, nlabel asc) rn
  from votes
) where rn = 1
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding near-dup pairs over corpus ∪ copy (cos ≥ 0.999), blocked by
    SRP bucket — the AT-SCALE configuration: the quadratic self-join runs
    within buckets only (identical vectors always share a bucket, so exact
    twins are never missed; both engines use the same hyperplanes)."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings")).select("vec_id", "embedding")
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0)).alias("embedding"),
    )
    both = emb.unionByName(twin)
    bucketed = SIM.srp_buckets(both, dim=_EMB_DIM, bits=_SRP_BITS, seed=_SRP_SEED)
    return DD.embedding_near_duplicates(
        bucketed, threshold=0.999, block_col="bucket"
    ).select("id_a", "id_b")


SQL_EMBEDDING_NEARDUP_TEMPLATE = """
with uni as (
  select vec_id, embedding from embeddings
  union all
  select vec_id + 100000 as vec_id, embedding from embeddings
),
b as (select vec_id, embedding, {bucket} as bucket from uni)
select a.vec_id as id_a, c.vec_id as id_b
from b a join b c on a.bucket = c.bucket and a.vec_id < c.vec_id
where round(list_cosine_similarity(a.embedding, c.embedding), 6) >= 0.999
"""


def q_sample_docs_o3(spark, sf_dir):
    """O3: deterministic dataset sampling — docs with ≥200 chars, ordered by
    doc_id, skip 20, take 50 (evaluation/build_dataset/main.py:36-52)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return (
        docs.filter(F.length("text") >= 200)
        .orderBy("doc_id")
        .offset(20)
        .limit(50)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
    )


SQL_SAMPLE_DOCS_O3 = (
    # order on the NUMERIC id inside the subquery; casting first would make
    # the alias shadow the column and sort lexicographically
    "select doc_id::varchar as doc_id, n_chars from ("
    "select doc_id, n_chars from documents where length(text) >= 200 "
    "order by doc_id limit 50 offset 20)"
)


def q_stats_by_source_gs(spark, sf_dir):
    """A10 by-source breakdown via GROUPING SETS: token totals per
    (lang, source), per lang, and grand total in one pass."""
    toks = _tokens(spark, sf_dir)
    return (
        toks.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_tokens",
        )
    )


SQL_STATS_BY_SOURCE_GS = (
    f"select coalesce(lang, 'ALL') as lang, coalesce(source, 'ALL') as source, "
    f"count(*) as n_tokens from ({_TOKENS_SQL}) "
    f"group by rollup (lang, source)"
)


def _simhash16_fingerprints(docs):
    """(doc_id, simhash16) — 16-bit SimHash from md5 nibble parities.

    Bit j of token t := parity of hex digit j of md5(t); per-doc fingerprint
    = majority vote per bit (Charikar '02 construction over a portable hash
    family)."""
    toks = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit(""))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    votes = []
    for j in range(16):
        digit = F.conv(F.substring("h", j + 1, 1), 16, 10).cast("int")
        votes.append(
            F.sum(F.when(digit % 2 == 1, 1).otherwise(-1)).alias(f"v{j}")
        )
    agg = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash16"))


def q_simhash16(spark, sf_dir):
    """16-bit portable SimHash fingerprints over the documents table."""
    return _simhash16_fingerprints(spark.read.parquet(_T(sf_dir, "documents")))


def _sql_simhash16(corpus_sql: str) -> str:
    return f"""
with toks as (
  select doc_id::varchar as doc_id, md5(tok) as h from (
    select doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
           x -> x <> '')) as tok from ({corpus_sql}))
), votes as (
  select doc_id,
    {', '.join(f"sum(case when (strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) % 2 = 1 then 1 else -1 end) as v{j}" for j in range(16))}
  from toks group by doc_id
)
select doc_id,
  ({' + '.join(f"case when v{j} > 0 then {1 << j} else 0 end" for j in range(16))})::bigint as simhash16
from votes
"""


SQL_SIMHASH16 = _sql_simhash16("select doc_id, text from documents")


def q_simhash_near_pairs(spark, sf_dir):
    """Hamming-≤1 SimHash near-dup pairs over the twin corpus.

    Banded Hamming LSH on the portable 16-bit fingerprint: 4 bands of 4
    bits — by pigeonhole, recall is perfect for Hamming < 4; candidates are
    verified with one bit_count(xor). k=1 because a 16-bit fingerprint is
    coarse (64-bit fingerprints give 16-bit band keys and real bucketing);
    this checks the banded join + xor-verify mechanics end to end."""
    fp = _simhash16_fingerprints(_doc_pairs_corpus(spark, sf_dir))
    return DD.simhash_near_pairs(fp, k=1, bands=4, sim_col="simhash16", bits=16)


SQL_SIMHASH_NEAR_PAIRS = f"""
with fp as ({_sql_simhash16(_SQL_PAIRS_CORPUS)}),
banded_all as (
  select doc_id, simhash16, band, (simhash16 >> (band * 4)) & 15 as key
  from fp, (values (0), (1), (2), (3)) bands(band)
),
bucket_w as (select band, key, count(*) as w from banded_all group by 1, 2),
banded as (
  select banded_all.* from banded_all join bucket_w using (band, key)
  where w <= 1000
)
select distinct a.doc_id as doc_a, b.doc_id as doc_b,
       bit_count(xor(a.simhash16, b.simhash16))::int as hamming
from banded a join banded b on a.band = b.band and a.key = b.key
where a.doc_id < b.doc_id and bit_count(xor(a.simhash16, b.simhash16)) <= 1
"""


# --------------------------------------------------------------- clustering
def q_connected_components(spark, sf_dir):
    """G2: CC over the supplier–nation bipartite graph (large/small-star)."""
    from xlink_spark.operators.cluster import connected_components

    sup = spark.read.parquet(_T(sf_dir, "supplier"))
    edges = sup.select(
        F.col("s_suppkey").cast("long").alias("src"),
        (F.col("s_nationkey").cast("long") + 100000).alias("dst"),
    )
    return connected_components(edges)


SQL_CONNECTED_COMPONENTS = """
with recursive edges as (
  select s_suppkey::bigint as src, s_nationkey::bigint + 100000 as dst from supplier
),
undirected as (
  select src, dst from edges union select dst, src from edges
),
walk (node, comp) as (
  select src as node, least(src, min(dst)) as comp from undirected group by src
  union
  select w.node, least(w.comp, w2.comp) as comp
  from walk w
  join undirected u on u.src = w.node
  join walk w2 on w2.node = u.dst
  where least(w.comp, w2.comp) < w.comp
)
select node, min(comp) as component from walk group by node
"""


def q_cluster_size_histogram(spark, sf_dir):
    """Cluster-size distribution of the CC output
    (operators/cluster.cluster_size_histogram over connected_components) —
    the head-entity skew gauge for the clustering product; two
    map-combinable aggregations on top of the iterative large/small-star
    job (cluster.py:66)."""
    from xlink_spark.operators.cluster import cluster_size_histogram

    return cluster_size_histogram(q_connected_components(spark, sf_dir))


SQL_CLUSTER_SIZE_HISTOGRAM = f"""
with cc as ({SQL_CONNECTED_COMPONENTS}),
sizes as (select component, count(*)::bigint as size from cc group by 1)
select size, count(*)::bigint as n_clusters,
       (size * count(*))::bigint as n_nodes
from sizes group by size
"""


# ------------------------------------------------------- flagship priors core
def q_linking_priors(spark, sf_dir):
    """The flagship's SQL-expressible core (xlink.py:147-176): detection →
    candidate explosion → P(e|m)-prior scoring → link-prob + believe gates →
    top-1 per mention — driven through the REAL score_has_prob operator.

    Word/entity similarities are pinned to 1 (vectors are the pytest-pinned
    part), so an independent engine can replicate the entire join/gate/top-1
    DAG: believe = (P(e|m)^0.02 + link_prob)/2, gates link_prob > 0.008 and
    believe > 0.2. Detection is token-granularity (1-based token ordinal as
    the span start), reproducible via generate_subscripts in DuckDB.
    believe is quantized with floor(x·1e6) — round() diverges between
    engines at decimal midpoints.
    """
    from xlink_spark.config import DEFAULT
    from xlink_spark.operators import scoring as SC

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "tok")
    )
    mentions = toks.filter(F.length("tok") > 1).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("pos") + 1).cast("long").alias("start"),
        (F.col("pos") + 1 + F.length("tok")).cast("long").alias("end"),
        F.col("tok").alias("surface"),
        F.lit("ma").alias("parse_from"),
    )
    egm = q_e_given_m(spark, sf_dir)
    cands = (
        mentions.withColumn("mention", F.lower("surface"))
        .join(F.broadcast(egm), "mention", "inner")
        .withColumn("ctx_word_sim", F.lit(1.0))
        .withColumn("ctx_ent_sim", F.lit(1.0))
    )
    lp = q_link_prob(spark, sf_dir).select("mention", "link_prob")
    links = SC.score_has_prob(cands, lp, DEFAULT.predictor)
    return links.select(
        "doc_id",
        "start",
        "end",
        "surface",
        "entity_id",
        F.floor(F.col("believe") * 1e6).cast("long").alias("believe_q"),
    )


SQL_LINKING_PRIORS = f"""
with egm as ({SQL_E_GIVEN_M}),
lp as ({SQL_LINK_PROB}),
toks as (
  select doc_id::varchar as doc_id,
         generate_subscripts(t, 1) as pos1,
         unnest(t) as tok
  from (select doc_id, regexp_split_to_array(lower(text), '\\s+') as t from documents)
),
mentions as (
  select doc_id, pos1::bigint as start, (pos1 + length(tok))::bigint as "end",
         tok as surface
  from toks where length(tok) > 1
),
cands as (
  select m.*, e.entity_id, e.p from mentions m join egm e on m.surface = e.mention
),
best as (
  select *, row_number() over (
    partition by doc_id, start, "end"
    order by pow(p, 0.02) desc, entity_id asc) as rn
  from cands
),
gated as (
  select b.doc_id, b.start, b."end", b.surface, b.entity_id,
         (pow(b.p, 0.02) + l.link_prob) / 2 as believe, l.link_prob
  from best b join lp l on b.surface = l.mention
  where b.rn = 1
)
select doc_id, start, "end", surface, entity_id,
       floor(believe * 1e6)::bigint as believe_q
from gated where link_prob > 0.008 and believe > 0.2
"""


def _detection_base(spark, sf_dir):
    """Shared detection inputs: the single-space-normalized lowercase corpus
    and the anchor∪title dictionary (unigrams len≥6 as 'ma', bigrams with
    corpus frequency ≥40 as 'tt') — the self-supervised projection both the
    detection oracle and the fully-oracled ASCII flagship run over."""
    par = spark.sparkContext.defaultParallelism
    base = (
        spark.read.parquet(_T(sf_dir, "documents"))
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias("ts"),
        )
        .repartition(par, "doc_id")
    )
    docs_norm = base.select("doc_id", F.concat_ws(" ", "ts").alias("text"))
    uni = (
        base.select(F.explode("ts").alias("mention"))
        .filter(F.length("mention") >= 6)
        .distinct()
        .withColumn("parse_from", F.lit("ma"))
    )
    bigrams = base.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.concat_ws(" ", F.slice("ts", i, 2)),
                ),
            ).otherwise(F.array())
        ).alias("mention")
    )
    bi = (
        bigrams.groupBy("mention")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 40)
        .select("mention")
        .withColumn("parse_from", F.lit("tt"))
    )
    return docs_norm, uni.unionByName(bi)


def q_detected_mentions(spark, sf_dir):
    """Join-path mention detection (J1, detect.py:detect_mentions_join):
    positional n-gram spans from an Arrow-batched scan, first-token
    prefilter, equi-join against a dictionary TABLE — the at-scale path for
    dictionaries too large to broadcast, emitting exactly what the
    broadcast scanner emits (all hits, nested spans included; reference
    anchor: the automaton scan, generate_prob_files.py:65-82).

    Corpus: lower(text) normalized to single-space separation (so char
    offsets are derivable arithmetically in the oracle). Dictionary:
    unigram tokens of length ≥ 6 as the anchor dict ('ma') ∪ bigrams with
    corpus frequency ≥ 40 as the title dict ('tt') — multi-word surfaces
    exercise the n-gram width and the nested-span emission.
    """
    from xlink_spark.operators.detect import detect_mentions_join

    docs_norm, dct = _detection_base(spark, sf_dir)
    out = detect_mentions_join(docs_norm, dct, max_words=2)
    return out.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "surface",
        "parse_from",
    )


# char-exact offsets by arithmetic: the normalized corpus is single-space
# joined tokens, so start(i) = Σ_{j<i}(len(tok_j)+1) — the same offsets the
# engine's tokenizer reads off the real string
SQL_DETECTED_MENTIONS = """
with base as (
  select doc_id::varchar as doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as ts
  from documents
),
pos as (
  select doc_id, unnest(ts) as tok, generate_subscripts(ts, 1) as i from base
),
offs as (
  select doc_id, tok, i,
         coalesce(sum(length(tok) + 1) over (
           partition by doc_id order by i
           rows between unbounded preceding and 1 preceding), 0)::bigint as start
  from pos
),
uni as (
  select distinct tok as mention from pos where length(tok) >= 6
),
bi as (
  select a.tok || ' ' || b.tok as mention
  from pos a join pos b on a.doc_id = b.doc_id and b.i = a.i + 1
  group by 1 having count(*) >= 40
),
grams1 as (
  select doc_id, start, start + length(tok) as "end", tok as surface from offs
),
grams2 as (
  select a.doc_id, a.start, (b.start + length(b.tok))::bigint as "end",
         a.tok || ' ' || b.tok as surface
  from offs a join offs b on a.doc_id = b.doc_id and b.i = a.i + 1
)
select g.doc_id, g.start, g."end", g.surface, 'ma' as parse_from
from grams1 g join uni u on g.surface = u.mention
union all
select g.doc_id, g.start, g."end", g.surface, 'tt' as parse_from
from grams2 g join bi d on g.surface = d.mention
"""


def q_resolved_mentions(spark, sf_dir):
    """W2 weighted overlap resolution over REAL join-path detection — the
    flagship's detect→resolve prefix as ONE oracled DAG (detection emits
    all nested/overlapping hits; resolution groups transitive overlaps per
    doc and picks 'ma' weight 100 over 'tt', then longest span, then
    smallest start — detect.py:resolve_conflicts)."""
    from xlink_spark.operators.detect import resolve_conflicts

    det = q_detected_mentions(spark, sf_dir)
    won = resolve_conflicts(det, weighted=True)
    return won.select("doc_id", "start", "end", "surface", "parse_from")


SQL_RESOLVED_MENTIONS_TEMPLATE = """
with det as ({detected}),
grouped as (
  select *,
    case when start >= coalesce(max("end") over (partition by doc_id
         order by start, "end"
         rows between unbounded preceding and 1 preceding), -1)
         then 1 else 0 end as new_group
  from det
), grp as (
  select *, sum(new_group) over (partition by doc_id
         order by start, "end"
         rows between unbounded preceding and current row) as g
  from grouped
)
select doc_id, start, "end", surface, parse_from from (
  select *, row_number() over (partition by doc_id, g
         order by (case when parse_from = 'ma' then 100 else 0 end) desc,
                  ("end" - start) desc, start asc) as rn
  from grp
) where rn = 1
"""


def _hash_embeddings_md5(spark, sf_dir, keys: DataFrame, key_col: str) -> DataFrame:
    """key → embeddings row at (first 15 hex chars of md5(key)) mod n_emb —
    the ENGINE-PORTABLE twin of flagship._hash_embeddings (which uses
    xxhash64, a Spark-only function): md5 hex strings are identical across
    Spark and DuckDB, 15 hex chars fit a signed 64-bit int exactly
    (DuckDB: ('0x' || substr(md5(k),1,15))::bigint), and both operands are
    non-negative so pmod ≡ %. Returns (key, vec double-castable)."""
    emb = spark.read.parquet(_T(sf_dir, "embeddings"))
    n_emb = emb.count()
    keyed = (
        keys.select(F.col(key_col).alias("key"))
        .distinct()
        .withColumn(
            "vec_id",
            F.pmod(
                F.conv(F.substring(F.md5("key"), 1, 15), 16, 10).cast("long"),
                F.lit(n_emb),
            ),
        )
    )
    return keyed.join(F.broadcast(emb.select("vec_id", "embedding")), "vec_id").select(
        "key", F.col("embedding").alias("vec")
    )


def q_linking_pipeline_ascii(spark, sf_dir):
    """The FULLY-ORACLED flagship: detect → resolve → ±50-char context →
    whitespace tokenize → word-vector mean-pool → cosine vs entity vector →
    prior fusion → gates → top-1, end-to-end through the REAL operators
    (detect.detect_mentions_join, detect.resolve_conflicts,
    scoring.attach_context, scoring.context_word_vector,
    scoring.candidate_table, scoring.score_has_prob — xlink.py:107-176 +
    318-354).

    This is the ASCII-corpus variant the flagship's rows-only check could
    not cover: on the single-space-normalized corpus the tokenizer is plain
    whitespace splitting and every arithmetic stage is DuckDB-expressible —
    context windows are substring arithmetic, the mean-pool is per-dim SUMs
    over exploded word vectors, the cosine is a dot/norm ratio with the
    same sequential fold order on both engines, and the believe fusion is
    (P(e|m)^0.02·word_sim + link_prob)/2 with the reference gates. Word and
    entity vectors come from the md5-portable hash-embedding projection
    (xxhash64 has no DuckDB twin). believe is floor-quantized at 1e6; the
    only cross-engine drift is summation-order ulps (~1e-15), and every
    decision margin is ≥9 orders of magnitude wider (measured on the data
    at both sf: believe-gate margin ≥0.038, link_prob-gate ≥0.35,
    floor-boundary ≥1e-4, top-1-vs-top-2 ranking gap ≥6.9e-6 with zero
    non-exact ties). Candidate ordering ties are exact on both engines
    (same vec_id AND same rounded prior) and break deterministically by
    entity_id.
    """
    from xlink_spark.config import DEFAULT
    from xlink_spark.operators import scoring as SC
    from xlink_spark.operators.detect import detect_mentions_join, resolve_conflicts

    docs_norm, dct = _detection_base(spark, sf_dir)
    mentions = resolve_conflicts(
        detect_mentions_join(docs_norm, dct, max_words=2), weighted=True
    )
    word_emb = _hash_embeddings_md5(
        spark, sf_dir, _tokens(spark, sf_dir).select("tok"), "tok"
    )
    # egm feeds THREE consumers (the candidate mention-entity table, the
    # prior lookup, the entity-vector key set); a LAZY checkpoint both
    # truncates the composed plan the scoring tail re-analyzes (measured
    # 1-2s driver gaps between jobs on this query) and materializes the
    # e_given_m chain once instead of three times
    egm = cut(q_e_given_m(spark, sf_dir), eager=False)
    entity_emb = _hash_embeddings_md5(
        spark, sf_dir, egm.select("entity_id"), "entity_id"
    )
    ctx = SC.attach_context(mentions, docs_norm.select("doc_id", "text"), window=50)
    ctxv = SC.context_word_vector(ctx, word_emb)
    cands = SC.candidate_table(ctxv, egm, entity_emb).withColumn(
        "ctx_ent_sim", F.lit(1.0)
    )
    lp = q_link_prob(spark, sf_dir).select("mention", "link_prob")
    links = SC.score_has_prob(cands, lp, DEFAULT.predictor)
    return links.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "surface",
        "entity_id",
        F.floor(F.col("believe") * 1e6).cast("long").alias("believe_q"),
    )


# Shared CTE block for the two oracled flagship variants: dictionary +
# link_prob + detection/resolution + normalized corpus + md5-portable word
# and entity vectors + per-mention context-word pool (per-dim SUMs collected
# into an ordered list so cosines use list_dot_product's sequential fold).
_SQL_ASCII_CTES = f"""egm as ({SQL_E_GIVEN_M}),
lp as ({SQL_LINK_PROB}),
resolved as ({SQL_RESOLVED_MENTIONS_TEMPLATE.format(detected=SQL_DETECTED_MENTIONS)}),
norm as (
  select doc_id::varchar as doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ' ') as text
  from documents
),
nemb as (select count(*) as n from embeddings),
wvec as (
  select w.tok, e.embedding::DOUBLE[] as v from
  (select distinct tok from ({_TOKENS_SQL})) w join embeddings e
  on e.vec_id = ('0x' || substr(md5(w.tok), 1, 15))::bigint % (select n from nemb)
),
evec as (
  select s.entity_id, e.embedding::DOUBLE[] as v from
  (select distinct entity_id from egm) s join embeddings e
  on e.vec_id = ('0x' || substr(md5(s.entity_id), 1, 15))::bigint % (select n from nemb)
),
ctx as (
  select m.doc_id, m.start, m."end", m.surface,
         substr(t.text, greatest(m.start - 50, 0) + 1,
                m.start - greatest(m.start - 50, 0)) as ctx_prev,
         substr(t.text, m."end" + 1, 50) as ctx_after
  from resolved m join norm t using (doc_id)
),
cw as (
  select doc_id, start, "end",
         unnest(list_filter(regexp_split_to_array(ctx_prev, '\\s+'), x -> x <> '')) as w
  from ctx
  union all
  select doc_id, start, "end",
         unnest(list_filter(regexp_split_to_array(ctx_after, '\\s+'), x -> x <> '')) as w
  from ctx
),
perdim as (
  select c.doc_id, c.start, c."end",
         generate_subscripts(wv.v, 1) as d, unnest(wv.v) as val
  from cw c join wvec wv on wv.tok = c.w
),
pool as (
  select doc_id, start, "end", list(s order by d) as pl
  from (select doc_id, start, "end", d, sum(val) as s
        from perdim group by 1, 2, 3, 4)
  group by 1, 2, 3
)"""

# word-sim expression shared by both variants (engine-parity notes in
# q_linking_pipeline_ascii's docstring)
_SQL_ASCII_WORD_SIM = """case when p2.pl is null then 0.0
              when list_dot_product(p2.pl, p2.pl) <= 0 then 0.0
              else list_dot_product(p2.pl, ev.v)
                   / (sqrt(list_dot_product(p2.pl, p2.pl))
                      * sqrt(list_dot_product(ev.v, ev.v)))
         end"""

SQL_LINKING_PIPELINE_ASCII = f"""
with {_SQL_ASCII_CTES},
cands as (
  select c.doc_id, c.start, c."end", c.surface, e.entity_id, e.p,
         {_SQL_ASCII_WORD_SIM} as sim
  from ctx c
  join egm e on e.mention = c.surface
  join evec ev on ev.entity_id = e.entity_id
  left join pool p2
    on p2.doc_id = c.doc_id and p2.start = c.start and p2."end" = c."end"
),
best as (
  select *, row_number() over (
    partition by doc_id, start, "end"
    order by pow(p, 0.02) * sim desc, entity_id asc) as rn
  from cands
),
gated as (
  select b.doc_id, b.start, b."end", b.surface, b.entity_id,
         (pow(b.p, 0.02) * b.sim + l.link_prob) / 2 as believe, l.link_prob
  from best b join lp l on l.mention = b.surface
  where b.rn = 1
)
select doc_id, start, "end", surface, entity_id,
       floor(believe * 1e6)::bigint as believe_q
from gated where link_prob > 0.008 and believe > 0.2
"""


def q_linking_seeded_ascii(spark, sf_dir):
    """The COMPLETE has-prob flagship, fully oracled — linking_pipeline_ascii
    PLUS the unambiguous-seed context-entity pool (xlink.py:115-145 +
    157-161): seeds are resolved mentions whose surface has exactly one
    dictionary candidate, the per-doc pool is the elementwise sum of their
    (occurrence-counted) entity vectors, ctx_ent_sim is the cosine of each
    candidate's entity vector against the unit-normalized pool
    (empty pool ⇒ 1, the reference's cal_candidate_context_entities_sim
    convention), and cand_believe = P(e|m)^0.02 · word_sim · ent_sim. This
    runs the same has-prob pass function as flagship.py and link_corpus
    (plans.pipeline.link_has_prob: seed_pool_from_dictionary →
    candidate_table → context_entity_vector → score_has_prob), so every
    stage of the flagship DAG has a green hash oracle. The raw
    self-supervised dictionary is maximally ambiguous (every token under
    every source — no seeds could exist), so this query
    applies the F3-style prior refinement (p ≥ 0.08) the reference applies
    when refining its dictionary; at that threshold both seed surfaces and
    multi-candidate surfaces exist at both sf. Engine-parity margins
    measured on the data at both sf: believe-gate ≥4.1e-6, floor-boundary
    ≥2.1e-4, top-1 ranking gap ≥1.6e-6 with zero non-exact ties — ≥9
    orders above summation ulps; the p-threshold comparison is EXACT
    (round(int/int, 6) is bit-identical cross-engine).
    """
    from xlink_spark.config import DEFAULT
    from xlink_spark.operators.detect import detect_mentions_join, resolve_conflicts
    from xlink_spark.plans.pipeline import link_has_prob

    docs_norm, dct = _detection_base(spark, sf_dir)
    mentions = resolve_conflicts(
        detect_mentions_join(docs_norm, dct, max_words=2), weighted=True
    )
    word_emb = _hash_embeddings_md5(
        spark, sf_dir, _tokens(spark, sf_dir).select("tok"), "tok"
    )
    # five consumers (entity-vector keys, the refined dictionary's seed
    # and candidate sides) — lazy checkpoint, the q_linking_pipeline_ascii
    # pattern (plan truncation + single materialization)
    egm = cut(q_e_given_m(spark, sf_dir), eager=False)
    entity_emb = _hash_embeddings_md5(
        spark, sf_dir, egm.select("entity_id"), "entity_id"
    )
    # F3-style dictionary refinement (filter_anchors semantics): the raw
    # self-supervised dictionary is maximally ambiguous (every token appears
    # under every source), so unambiguous seed surfaces only exist after the
    # prior gate the reference applies when refining its dictionary. The
    # comparison is EXACT cross-engine: p is round(cnt/sum, 6) of integer
    # ratios, bit-identical on both sides (nearest raw p is ≥1.1e-4 from the
    # threshold anyway, measured at both sf).
    egm_f = egm.filter(F.col("p") >= 0.08)
    lp = q_link_prob(spark, sf_dir).select("mention", "link_prob")
    # the pass persists the mentions eagerly at their fan-out (context
    # branch + seed branch), so the Python detection scan runs ONCE
    links = link_has_prob(
        mentions, docs_norm, egm_f, lp, word_emb, entity_emb, DEFAULT.predictor
    )
    return links.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "surface",
        "entity_id",
        F.floor(F.col("believe") * 1e6).cast("long").alias("believe_q"),
    )


SQL_LINKING_SEEDED_ASCII = f"""
with {_SQL_ASCII_CTES},
egmf as (select * from egm where p >= 0.08),
surf1 as (
  select mention, min(entity_id) as seed_eid
  from egmf group by mention having count(*) = 1
),
seeds as (
  select r.doc_id, s.seed_eid
  from resolved r join surf1 s on s.mention = r.surface
),
dpool as (
  select doc_id, list(s order by d) as dl
  from (
    select doc_id, d, sum(val) as s from (
      select sd.doc_id, generate_subscripts(ev.v, 1) as d, unnest(ev.v) as val
      from seeds sd join evec ev on ev.entity_id = sd.seed_eid
    ) group by 1, 2
  ) group by 1
),
cands as (
  select c.doc_id, c.start, c."end", c.surface, e.entity_id, e.p,
         {_SQL_ASCII_WORD_SIM} as sim,
         case when dp.dl is null then 1.0
              when list_dot_product(dp.dl, dp.dl) <= 0 then 1.0
              else list_dot_product(dp.dl, ev.v)
                   / (sqrt(list_dot_product(dp.dl, dp.dl))
                      * sqrt(list_dot_product(ev.v, ev.v)))
         end as esim
  from ctx c
  join egmf e on e.mention = c.surface
  join evec ev on ev.entity_id = e.entity_id
  left join pool p2
    on p2.doc_id = c.doc_id and p2.start = c.start and p2."end" = c."end"
  left join dpool dp on dp.doc_id = c.doc_id
),
best as (
  select *, row_number() over (
    partition by doc_id, start, "end"
    order by pow(p, 0.02) * sim * esim desc, entity_id asc) as rn
  from cands
),
gated as (
  select b.doc_id, b.start, b."end", b.surface, b.entity_id,
         (pow(b.p, 0.02) * b.sim * b.esim + l.link_prob) / 2 as believe,
         l.link_prob
  from best b join lp l on l.mention = b.surface
  where b.rn = 1
)
select doc_id, start, "end", surface, entity_id,
       floor(believe * 1e6)::bigint as believe_q
from gated where link_prob > 0.008 and believe > 0.2
"""


def _curation_corpus(spark, sf_dir):
    """The curation test corpus: every doc gets a per-doc PII footer (so
    redaction does real work), then ∪ 60%-token truncations (+100000 —
    near-dups) ∪ byte-identical copies (+200000 — exact dups). Eval set for
    decontamination: the truncations of every 97th doc."""
    par = spark.sparkContext.defaultParallelism
    raw = spark.read.parquet(_T(sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("nid"),
        F.concat(
            F.lower("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    base = raw.select(F.col("nid").cast("string").alias("doc_id"), "text")
    t = raw.select("nid", F.split("text", r"\s+").alias("t"))
    trunc_text = F.concat_ws(
        " ", F.slice("t", 1, F.greatest((F.size("t") * 6 / 10).cast("int"), F.lit(1)))
    )
    trunc = t.select(
        (F.col("nid") + 100000).cast("string").alias("doc_id"),
        trunc_text.alias("text"),
    )
    copy = raw.select((F.col("nid") + 200000).cast("string").alias("doc_id"), "text")
    eval_docs = t.filter(F.col("nid") % 97 == 0).select(
        F.col("nid").cast("string").alias("doc_id"), trunc_text.alias("text")
    )
    # ONE repartition after the union: every downstream stage sees `par`
    # partitions instead of 3×par (the test parquet is 1-2 splits; at real
    # input scale the scan has natural splits and this is a cheap reshuffle)
    corpus = base.unionByName(trunc).unionByName(copy).repartition(par, "doc_id")
    return corpus, eval_docs


def q_curation_plan(spark, sf_dir):
    """The COMPOSED curation plan (plans/curation.curate_corpus) end-to-end:
    exact dedup → quality gate (0.28) → Gopher top-bigram gate (0.08) →
    MinHash-LSH near-dup (J≥0.5, cap active) → decontamination (3-grams,
    ≥2 hits) → PII redaction — each doc labeled with its fate, kept docs
    carrying the md5 of their REDACTED text so the oracle checks the whole
    chain including stage ordering, anti-join semantics and redaction.

    Thresholds are chosen off the data's score distribution (nearest doc
    ≥1e-3 away from each FP gate; the repetition gate compares exact
    integers) so both engines gate identically.
    """
    from xlink_spark.plans.curation import curate_corpus

    corpus, eval_docs = _curation_corpus(spark, sf_dir)
    # The FIXTURE corpus is a derived-expression table (3x replication +
    # per-doc string surgery), and the curation plan consumes the raw docs
    # frame four times (facts scan, bigram-mode scan, survivor truncation,
    # kept anti-join) — unpersisted, the fixture expressions re-execute per
    # consumer and dominate the query (measured 11.5s -> 1.1s at sf0.1
    # once persisted). A deployment corpus is a parquet scan with pushdown
    # (jobs/run_curation), so this persist covers only the synthetic
    # fixture; default MEMORY_AND_DISK keeps it spill-safe.
    corpus = hold(corpus)
    eval_docs = hold(eval_docs)
    kept, _audit, drops = curate_corpus(
        corpus,
        eval_docs,
        min_quality=0.28,
        max_top_bigram_frac=0.08,
        redact=True,
        neardup_threshold=0.5,
        shingle_n=3,
        num_hashes=8,
        bands=4,
        contamination_ngram=3,
        contamination_min_hits=2,
    )
    # the checkpointed drop-list serves both fate branches within the single
    # materialization
    return drops.select(
        "doc_id",
        F.col("stage").alias("fate"),
        F.lit(None).cast("string").alias("red_hash"),
    ).unionByName(
        kept.select("doc_id", F.lit("kept").alias("fate"), F.md5("text").alias("red_hash"))
    )


_SQL_CURATION_CORPUS = """
  select doc_id::varchar as doc_id,
         lower(text) || ' contact user' || doc_id::varchar
           || '@example.com or +1 (555) 010-' || doc_id::varchar as text
  from documents
  union all
  select (doc_id + 100000)::varchar,
         array_to_string(t[1:greatest((len(t) * 6 // 10)::int, 1)], ' ')
  from (select doc_id, regexp_split_to_array(lower(text) || ' contact user'
          || doc_id::varchar || '@example.com or +1 (555) 010-'
          || doc_id::varchar, '\\s+') as t from documents)
  union all
  select (doc_id + 200000)::varchar,
         lower(text) || ' contact user' || doc_id::varchar
           || '@example.com or +1 (555) 010-' || doc_id::varchar
  from documents
"""

_SQL_CURATION_EVAL = """
  select doc_id::varchar as doc_id,
         array_to_string(t[1:greatest((len(t) * 6 // 10)::int, 1)], ' ') as text
  from (select doc_id, regexp_split_to_array(lower(text) || ' contact user'
          || doc_id::varchar || '@example.com or +1 (555) 010-'
          || doc_id::varchar, '\\s+') as t
        from documents where doc_id % 97 = 0)
"""

SQL_CURATION_PLAN = f"""
with corpus as ({_SQL_CURATION_CORPUS}),
exd as (
  select doc_id from (
    select doc_id, row_number() over (partition by md5(text) order by doc_id) as rn
    from corpus
  ) where rn > 1
),
c1 as (select * from corpus where doc_id not in (select doc_id from exd)),
qual as (
  select doc_id, round(case when n_chars > 0 then
    0.4 * least(n_chars / 1000.0, 1.0)
    + 0.3 * (1.0 - least(pr_raw * 5.0, 1.0))
    + 0.3 * least(sw_raw * 5.0, 1.0) else 0 end, 6) as q
  from (
    select doc_id,
      case when length(text) > 0 then
        (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
      else 0.0 end as pr_raw,
      case when len(toks) > 0 then
        len(list_filter(toks, x -> list_contains({_SW_EN}, x))) / len(toks)
      else 0.0 end as sw_raw,
      length(text) as n_chars
    from (select doc_id, text,
            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as toks
          from c1)
  )
),
lowq as (select doc_id from qual where q < 0.28),
c2 as (select * from c1 where doc_id not in (select doc_id from lowq)),
repg as (
  select doc_id,
         floor(max(c)::double / sum(c)::double * 1e6)::bigint as u
  from (
    select doc_id, gram, count(*) as c from (
      select doc_id, unnest(case when len(t) >= 2 then
        list_transform(generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' '))
      else []::varchar[] end) as gram
      from (select doc_id,
              list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as t
            from c2)
    ) group by 1, 2
  ) group by 1
),
repdrop as (select doc_id from repg where u > 80000),
c3 as (select * from c2 where doc_id not in (select doc_id from repdrop)),
sh as ({_sql_shingles("select doc_id, text from c3")}),
sig as (
  select doc_id, {', '.join(f"min(md5('s{k}:' || shingle)) as h{k}" for k in range(8))}
  from sh where shingle <> '' group by doc_id
),
banded_all as (
  select doc_id, band, key from sig, (values (0), (1), (2), (3)) bands(band),
  lateral (select case band
     when 0 then h0 || '|' || h1 when 1 then h2 || '|' || h3
     when 2 then h4 || '|' || h5 else h6 || '|' || h7 end as key)
),
bucket_w as (select band, key, count(*) as w from banded_all group by 1, 2),
banded as (
  select banded_all.* from banded_all join bucket_w using (band, key)
  where w <= {_LSH_MAX_BUCKET}
),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from banded a join banded b on a.band = b.band and a.key = b.key
  where a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) as sz from sh group by 1),
inter as (
  select c.doc_a, c.doc_b, count(*) as i
  from cand c
  join sh sa on sa.doc_id = c.doc_a
  join sh sb on sb.doc_id = c.doc_b and sb.shingle = sa.shingle
  group by 1, 2
),
neardrop as (
  select distinct doc_b as doc_id
  from inter join sizes za on za.doc_id = doc_a join sizes zb on zb.doc_id = doc_b
  where i / (za.sz + zb.sz - i) >= 0.5
),
c4 as (select * from c3 where doc_id not in (select doc_id from neardrop)),
esh as (select distinct shingle from ({_sql_shingles(_SQL_CURATION_EVAL)}) where shingle <> ''),
contdrop as (
  select c.doc_id from ({_sql_shingles("select doc_id, text from c4")}) c
  join esh e using (shingle)
  where c.shingle <> ''
  group by 1 having count(*) >= 2
),
kept as (select * from c4 where doc_id not in (select doc_id from contdrop)),
red as (
  select doc_id,
    regexp_replace(
      regexp_replace(text, '{{EMAIL_RE}}', '<EMAIL>', 'g'),
      '{{PHONE_RE}}', '<PHONE>', 'g') as redacted
  from kept
)
select doc_id, 'exact_dup' as fate, null::varchar as red_hash from exd
union all select doc_id, 'low_quality', null from lowq
union all select doc_id, 'repetitive', null from repdrop
union all select doc_id, 'near_dup', null from neardrop
union all select doc_id, 'contaminated', null from contdrop
union all select doc_id, 'kept', md5(redacted) from red
""".replace("{EMAIL_RE}", TS.PII_EMAIL_RE).replace("{PHONE_RE}", TS.PII_PHONE_RE)


# ------------------------------------------- deterministic sampling / mixing
# Shared hash-bucket twin: (first 15 hex chars of md5(key || salt)) mod 1e6 —
# the same engine-portable idiom _hash_embeddings_md5 uses (15 hex < 2^60;
# both operands non-negative so Spark pmod ≡ SQL %).


def _sql_bucket(key_sql: str, salt: str) -> str:
    return (
        f"(('0x' || substr(md5({key_sql} || '{salt}'), 1, 15))::bigint"
        f" % 1000000)"
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic Bernoulli(0.37) corpus subsample: membership is a pure
    function of (doc_id, salt), reproducible across engines, partition
    layouts, and reruns (operators/sampling.hash_sample)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return SAMP.hash_sample(docs, 0.37, salt="split0").select("doc_id", "lang")


SQL_HASH_SAMPLE = (
    "select doc_id, lang from documents where "
    + _sql_bucket("doc_id::varchar", "split0")
    + " < 370000"
)


# Target mixture for the weights/stratified queries; the micro-unit shares
# are computed ONCE here and inlined into both engines' plans so they cannot
# drift (sampling.mixture_weights performs the same int(v·1e6/total)).
_MIX_TARGET = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
_MIX_TOTAL = sum(_MIX_TARGET.values())
_MIX_SHARES = {
    k: int(v * 1_000_000 / _MIX_TOTAL) for k, v in sorted(_MIX_TARGET.items())
}

_SQL_MIX_WEIGHTS = f"""
with counts as (
  select lang, count(*)::bigint as n_docs from documents group by lang
),
shares as (
  select * from (values {", ".join(f"('{k}', {v})" for k, v in _MIX_SHARES.items())})
  s(lang, share_u)
),
per as (
  select s.lang, coalesce(c.n_docs, 0)::bigint as n_docs,
         s.share_u::bigint as share_u
  from shares s left join counts c on s.lang = c.lang
),
cap as (select min(n_docs * 1000000 // share_u) as t_max from per)
select per.lang, per.n_docs,
       (per.share_u * cap.t_max // 1000000)::bigint as n_target,
       (case when per.n_docs > 0
             then (per.share_u * cap.t_max // 1000000) * 1000000 // per.n_docs
             else 0 end)::bigint as rate_u
from per, cap
"""


def q_mixture_weights(spark, sf_dir):
    """Dataset-mixing plan: per-language keep-rates that reshape the
    corpus's natural language skew into the 40/15/15/15/15 target at the
    largest feasible total — integer micro-unit arithmetic end-to-end
    (operators/sampling.mixture_weights)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return SAMP.mixture_weights(docs, _MIX_TARGET).select(
        "lang", "n_docs", "n_target", "rate_u"
    )


SQL_MIXTURE_WEIGHTS = _SQL_MIX_WEIGHTS


def q_stratified_sample(spark, sf_dir):
    """The composed mixing chain: mixture_weights → broadcast the rate
    table → hash-filter the corpus in place (no corpus shuffle). Output is
    the sampled (doc_id, lang) membership itself, so the oracle hash checks
    every individual keep/drop decision."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    w = SAMP.mixture_weights(docs, _MIX_TARGET)
    return SAMP.stratified_hash_sample(docs, w, salt="mix").select(
        "doc_id", "lang"
    )


SQL_STRATIFIED_SAMPLE = f"""
with w as ({_SQL_MIX_WEIGHTS})
select d.doc_id, d.lang
from documents d join w on d.lang = w.lang
where {_sql_bucket("d.doc_id::varchar", "mix")} < w.rate_u
"""


def q_mixture_weights_tokens(spark, sf_dir):
    """Token-budget mixing: the same 40/15/15/15/15 target reshapes per-
    language TOKEN mass (sum of whitespace token counts) instead of doc
    counts — the budget training mixtures actually meter
    (operators/sampling.mixture_weights_by)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    weighted = docs.withColumn("n_tokens", TS.token_count("text"))
    return SAMP.mixture_weights_by(
        weighted, _MIX_TARGET, "n_tokens"
    ).select("lang", "mass", "mass_target", "rate_u")


SQL_MIXTURE_WEIGHTS_TOKENS = f"""
with counts as (
  select lang,
         sum(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '')))::bigint as mass
  from documents group by lang
),
shares as (
  select * from (values {", ".join(f"('{k}', {v})" for k, v in _MIX_SHARES.items())})
  s(lang, share_u)
),
per as (
  select s.lang, coalesce(c.mass, 0)::bigint as mass, s.share_u::bigint as share_u
  from shares s left join counts c on s.lang = c.lang
),
cap as (select min(mass * 1000000 // share_u) as t_max from per)
select per.lang, per.mass,
       (per.share_u * cap.t_max // 1000000)::bigint as mass_target,
       (case when per.mass > 0
             then (per.share_u * cap.t_max // 1000000) * 1000000 // per.mass
             else 0 end)::bigint as rate_u
from per, cap
"""


_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_hash_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment: each doc lands in the
    split whose cumulative hash-bucket interval contains it — stable across
    reruns, layouts, and corpus growth (operators/sampling.hash_split)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return SAMP.hash_split(docs, _SPLITS, salt="sp").select("doc_id", "split")


# thresholds come from the SAME split_thresholds the operator uses, so the
# integer literals cannot drift between the two engines
SQL_HASH_SPLIT = f"""
select doc_id,
       case {" ".join(f"when b < {t} then '{name}'"
                      for name, t in SAMP.split_thresholds(_SPLITS))}
       end as split
from (select doc_id, {_sql_bucket("doc_id::varchar", "sp")} as b
      from documents)
"""


def q_top_ngrams(spark, sf_dir):
    """Global top-50 word trigrams by corpus frequency, tiebroken (count
    desc, ngram asc) so the boundary selection is engine-exact
    (operators/textstats.top_ngrams — TakeOrderedAndProject shape)."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return TS.top_ngrams(docs, n=3, k=50)


SQL_TOP_NGRAMS = """
with toks as (
  select list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') as t
  from documents
),
grams as (
  select unnest(case when len(t) >= 3 then
      list_transform(generate_series(1, len(t) - 2),
                     i -> array_to_string(t[i:i+2], ' '))
      else []::varchar[] end) as ngram
  from toks
)
select ngram, count(*)::bigint as n_occurrences
from grams group by ngram
order by n_occurrences desc, ngram
limit 50
"""


def q_quota_sample(spark, sf_dir):
    """Deterministic quota: the 7 lowest-hash docs of every source, via the
    SCALE path (counts-driven hash pre-filter before the per-stratum
    window); the oracle ranks each full stratum directly, so the
    pre-filter ≡ plain identity is hash-checked on real data."""
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return SAMP.quota_sample(
        docs, 7, stratum_col="source", salt="q",
        prefilter_counts=counts, oversample=4,
    ).select("doc_id", "source")


SQL_QUOTA_SAMPLE = f"""
select doc_id, source from (
  select doc_id, source,
         row_number() over (
           partition by source
           order by {_sql_bucket("doc_id::varchar", "q")}, doc_id
         ) as rk
  from documents
) t where rk <= 7
"""


# ------------------------------------------------- boilerplate line removal
# Synthetic boilerplate corpus: every doc gains a per-source license footer
# (100% of the source → boilerplate), 17/25 of each source gain a newsletter
# line (680000 ppm ≥ the 500000 threshold → boilerplate), and 6/25 gain a
# rare editorial note (240000 ppm → below threshold, must SURVIVE the
# strip). The (doc_id div 20) % 10 conditions vary WITHIN each source
# (source = src{doc_id % 20} in the testdata layout).


def _bp_corpus(spark, sf_dir):
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit("\ncopyright footer "),
            F.col("source"),
            F.when(
                F.expr("(doc_id div 20) % 10 < 6"),
                F.lit("\nsubscribe to our newsletter"),
            ).otherwise(F.lit("")),
            F.when(
                F.expr("(doc_id div 20) % 10 < 2"),
                F.lit("\nrare editorial note"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_SQL_BP_CORPUS = """
select doc_id, source,
       text || chr(10) || 'copyright footer ' || source
            || (case when (doc_id // 20) % 10 < 6
                     then chr(10) || 'subscribe to our newsletter' else '' end)
            || (case when (doc_id // 20) % 10 < 2
                     then chr(10) || 'rare editorial note' else '' end) as text
from documents
"""

_SQL_BP_LINES = f"""
with corpus as ({_SQL_BP_CORPUS}),
lines as (
  select doc_id, source, generate_subscripts(ls, 1) as pos, unnest(ls) as line
  from (select doc_id, source, string_split(text, chr(10)) as ls from corpus)
),
sizes as (select source, count(*)::bigint as n_docs_group from corpus group by 1),
counted as (
  select source, line, count(*)::bigint as n_docs_line
  from (select distinct source, doc_id, line from lines where line <> '')
  group by 1, 2
),
bp as (
  select c.source, c.line, c.n_docs_line, s.n_docs_group
  from counted c join sizes s using (source)
  where c.n_docs_line >= 2
    and c.n_docs_line * 1000000 // s.n_docs_group >= 500000
)
"""


def q_boilerplate_lines(spark, sf_dir):
    """Per-source boilerplate line detection (RefinedWeb/CCNet-style):
    non-empty lines verbatim-shared by ≥2 docs and ≥50% of a source
    (operators/dedup.boilerplate_lines — per-document frequency, integer
    micro-unit threshold)."""
    return DD.boilerplate_lines(
        _bp_corpus(spark, sf_dir), min_docs=2, min_frac_u=500_000
    )


SQL_BOILERPLATE_LINES = (
    _SQL_BP_LINES + "select source, line, n_docs_line, n_docs_group from bp"
)


def q_strip_boilerplate(spark, sf_dir):
    """Boilerplate removal end-to-end: detect per-source repeated lines,
    strip them from every doc preserving line order and doc survival;
    output hashes the full cleaned text so every kept/removed line of every
    doc is checked (operators/dedup.strip_boilerplate)."""
    corpus = _bp_corpus(spark, sf_dir)
    bp = DD.boilerplate_lines(corpus, min_docs=2, min_frac_u=500_000)
    return DD.strip_boilerplate(corpus, bp).select(
        "doc_id", F.md5("text").alias("strip_hash")
    )


SQL_STRIP_BOILERPLATE = _SQL_BP_LINES + """
select l.doc_id,
       md5(coalesce(
         string_agg(case when b.line is null then l.line end,
                    chr(10) order by l.pos),
         '')) as strip_hash
from lines l
left join bp b on l.source = b.source and l.line = b.line
group by l.doc_id
"""


# ------------------------------------------------- paragraph-level dedup
# Synthetic paragraph corpus: p1 = a text prefix (template texts collide
# across docs, so some prefixes repeat), p2 = one of 7 shared passages
# (kept only at its min-(doc_id,pos) occurrence), p3 = an overlapping text
# slice ('' for short docs — empty paragraphs are never deduped), and every
# 11th doc repeats its shared passage WITHIN the doc (the within-doc path).


def _pd_corpus(spark, sf_dir):
    docs = spark.read.parquet(_T(sf_dir, "documents"))
    sep = F.lit("\n\n")
    shared = F.concat(F.lit("shared passage "), F.expr("cast(doc_id % 7 as string)"))
    return docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 100),
            sep,
            shared,
            sep,
            F.substring("text", 41, 80),
            F.when(F.expr("doc_id % 11 = 0"), F.concat(sep, shared)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph dedup (CCNet-style): every repeated paragraph
    survives only at its first (doc_id, pos) occurrence; documents always
    survive, possibly empty (operators/dedup.paragraph_dedup). Output
    hashes each rebuilt text, so survivor choice, within-doc repeats,
    empty-paragraph preservation and reassembly order are all checked."""
    return DD.paragraph_dedup(_pd_corpus(spark, sf_dir)).select(
        "doc_id", F.md5("text").alias("dedup_hash")
    )


SQL_PARAGRAPH_DEDUP = """
with corpus as (
  select doc_id,
         substr(text, 1, 100) || chr(10) || chr(10)
           || 'shared passage ' || (doc_id % 7)::varchar || chr(10) || chr(10)
           || substr(text, 41, 80)
           || (case when doc_id % 11 = 0
                    then chr(10) || chr(10) || 'shared passage '
                         || (doc_id % 7)::varchar
                    else '' end) as text
  from documents
),
paras as (
  select doc_id, generate_subscripts(ps, 1) - 1 as pos, unnest(ps) as para
  from (select doc_id, string_split(text, chr(10) || chr(10)) as ps from corpus)
),
occ as (
  select doc_id, pos,
         row_number() over (partition by md5(para) order by doc_id, pos) as rn
  from paras where length(para) >= 1
),
drops as (select doc_id, pos from occ where rn > 1)
select p.doc_id,
       md5(coalesce(string_agg(case when d.pos is null then p.para end,
                               chr(10) || chr(10) order by p.pos),
                    '')) as dedup_hash
from paras p
left join drops d on p.doc_id = d.doc_id and p.pos = d.pos
group by p.doc_id
"""


def q_blocking_metrics(spark, sf_dir):
    """Blocking-stage diagnostics (eval/blocking.blocking_quality): pair
    completeness + reduction ratio of the surface-form blocking key against
    the entity labels, computed from group sizes only — no pair is ever
    materialized (the reference evaluates end-result F1 only,
    MentionParsingEval.py:12-69; at 10^12 docs the blocking key needs its
    own gauge). Records = annotated-corpus token occurrences, block = the
    token surface (the linking pipeline's real blocking key), label = the
    doc's entity (source)."""
    from xlink_spark.eval.blocking import blocking_quality

    recs = (
        _tokens(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select(F.col("tok").alias("block"), F.col("source").alias("entity_id"))
    )
    return blocking_quality(recs)


SQL_BLOCKING_METRICS = f"""
with r as (select tok as b, source as e from ({_TOKENS_SQL}) where lang = 'en'),
bb as (select b, count(*)::bigint as n from r group by 1),
ee as (select e, count(*)::bigint as n from r group by 1),
be as (select b, e, count(*)::bigint as n from r group by 1, 2),
agg as (select
  (select sum(n)::bigint from bb) as n_records,
  (select count(*)::bigint from bb) as n_blocks,
  (select count(*)::bigint from ee) as n_entities,
  (select sum(n * (n - 1) // 2)::bigint from bb) as cand_pairs,
  (select sum(n * (n - 1) // 2)::bigint from ee) as true_pairs,
  (select sum(n * (n - 1) // 2)::bigint from be) as co_blocked_pairs)
select n_records, n_blocks, n_entities, cand_pairs, true_pairs, co_blocked_pairs,
  (case when true_pairs > 0
        then co_blocked_pairs * 1000000 // true_pairs
        else 1000000 end)::bigint as pc_micro,
  (case when n_records > 1
        then 1000000 - cand_pairs * 1000000 // (n_records * (n_records - 1) // 2)
        else 1000000 end)::bigint as rr_micro
from agg
"""


def q_bcubed_metrics(spark, sf_dir):
    """B-cubed cluster precision/recall/F1 (eval/bcubed.bcubed) of the REAL
    linking decisions: items = the gated top-1 mention links produced by
    score_has_prob (the linking_priors DAG), predicted cluster = the linked
    entity_id, gold cluster = the document's source entity. The cluster-
    grain complement of the reference's mention-level micro F1
    (MentionParsingEval.py:12-69) — computed from contingency-cell sizes
    only, no item pair materialized (Bagga & Baldwin 1998)."""
    from xlink_spark.eval.bcubed import bcubed

    links = q_linking_priors(spark, sf_dir)
    docs = spark.read.parquet(_T(sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    items = links.join(docs, "doc_id", "inner")
    return bcubed(items, pred_col="entity_id", gold_col="source")


SQL_BCUBED_METRICS = f"""
with links as ({SQL_LINKING_PRIORS}),
items as (
  select l.entity_id as p, d.source as g
  from links l join documents d on l.doc_id = d.doc_id::varchar
),
cells as (select p, g, count(*)::bigint as n_pg from items group by 1, 2),
preds as (select p, count(*)::bigint as n_p from items group by 1),
golds as (select g, count(*)::bigint as n_g from items group by 1),
j as (
  select c.n_pg, pr.n_p, go.n_g
  from cells c join preds pr on c.p = pr.p join golds go on c.g = go.g
),
agg as (select
  (select coalesce(sum(n_pg), 0)::bigint from j) as n_items,
  (select count(*)::bigint from preds) as n_pred_clusters,
  (select count(*)::bigint from golds) as n_gold_clusters,
  (select coalesce(sum(n_pg * n_pg * 1000000 // n_p), 0)::bigint from j) as psum,
  (select coalesce(sum(n_pg * n_pg * 1000000 // n_g), 0)::bigint from j) as rsum),
pr as (select n_items, n_pred_clusters, n_gold_clusters,
  (case when n_items > 0 then psum // n_items else 1000000 end)::bigint
    as bcubed_p_micro,
  (case when n_items > 0 then rsum // n_items else 1000000 end)::bigint
    as bcubed_r_micro
from agg)
select *,
  (case when bcubed_p_micro + bcubed_r_micro > 0
        then 2 * bcubed_p_micro * bcubed_r_micro
             // (bcubed_p_micro + bcubed_r_micro)
        else 0 end)::bigint as bcubed_f_micro
from pr
"""


def q_skew_salt_plan(spark, sf_dir):
    """Data-driven hot-key salt plan for the blocking join
    (operators/skew.join_salt_plan): per blocking key, estimated join
    output = token occurrences × candidate entities, salted where the
    estimate exceeds the per-task target. The north rule's "salting hot
    blocking keys" made a measured, reproducible artifact instead of a
    fixed config (a single replication factor for every hot key); exact
    integer ceil arithmetic end to end."""
    from xlink_spark.operators.skew import join_salt_plan

    probe = _tokens(spark, sf_dir).select(F.col("tok").alias("key"))
    build = q_e_given_m(spark, sf_dir).select(F.col("mention").alias("key"))
    return join_salt_plan(probe, build, "key", target_rows_per_task=8192)


SQL_SKEW_SALT_PLAN = f"""
with pc as (
  select tok as key, count(*)::bigint as n_probe
  from ({_TOKENS_SQL}) group by 1
),
bc as (
  select mention as key, count(*)::bigint as n_build
  from ({SQL_E_GIVEN_M}) group by 1
),
j as (
  select key, n_probe, n_build, (n_probe * n_build)::bigint as est_rows
  from pc join bc using (key)
)
select key, n_probe, n_build, est_rows,
       ((est_rows + 8191) // 8192)::bigint as salt_factor
from j where (est_rows + 8191) // 8192 >= 2
"""


def q_current_links_fold(spark, sf_dir):
    """Retraction-fold semantics under a hash oracle
    (plans/incremental.fold_link_history — the pure core of
    current_links/fold_retractions): a deterministic 2-batch link history
    is synthesized from the corpus (batch 0 links every doc; docs ≡0 mod 5
    re-link in batch 1 with _v2 entities; docs ≡0 mod 7 that did NOT
    re-link are retracted as removed), then folded. Newest-batch-wins,
    removed-after-linked drops, and re-link survival are all value-checked
    cross-engine."""
    from xlink_spark.plans.incremental import fold_link_history

    toks = _tokens(spark, sf_dir)
    l0 = toks.select(
        "doc_id", F.col("tok").alias("entity_id"), F.lit(0).alias("batch_id")
    ).distinct()
    l1 = l0.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.col("entity_id"), F.lit("_v2")).alias("entity_id"),
        F.lit(1).alias("batch_id"),
    )
    docs = toks.select("doc_id").distinct()
    rets = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.lit("changed").alias("change"), F.lit(1).alias("batch_id")
    ).unionByName(
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)).select(
            "doc_id", F.lit("removed").alias("change"), F.lit(1).alias("batch_id")
        )
    )
    return fold_link_history(l0.unionByName(l1), rets).select("doc_id", "entity_id")


SQL_CURRENT_LINKS_FOLD = f"""
with toks as ({_TOKENS_SQL}),
l0 as (select distinct doc_id, tok as entity_id, 0 as batch_id from toks),
l1 as (select doc_id, entity_id || '_v2' as entity_id, 1 as batch_id
       from l0 where doc_id % 5 = 0),
links as (select * from l0 union all select * from l1),
wins as (select doc_id, max(batch_id) as b from links group by 1),
live as (
  select l.doc_id, l.entity_id, l.batch_id
  from links l join wins w on l.doc_id = w.doc_id and l.batch_id = w.b
),
removed as (
  select doc_id, 1 as removed_at from (select distinct doc_id from toks)
  where doc_id % 7 = 0 and doc_id % 5 <> 0
)
select live.doc_id, entity_id
from live left join removed on live.doc_id = removed.doc_id
where removed_at is null or removed_at <= batch_id
"""


def q_span_roundtrip(spark, sf_dir):
    """North-rule span-sequence invariant, end-to-end through the REAL span
    operators: deterministically annotate the corpus (tokens of length ≥ 6
    become ``[[source|tok]]`` anchors), run parse_markup_to_spans →
    span_sequence_key / offsets / plain_text / spans_to_markup, and hash
    each per doc. The oracle derives the expected span sequence
    INDEPENDENTLY from a token walk (never from the parser's split logic),
    so (kind, text, media_ref, order), exact char offsets, plain-text
    reconstruction, and markup invertibility are all hash-pinned
    cross-engine (reference semantics: utils/mention.py:11-42,
    OutputFormatter.py:12-104)."""
    from xlink_spark.operators.spans import (
        parse_markup_to_spans,
        plain_text,
        span_sequence_key,
        spans_to_markup,
    )

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    marked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda t: F.when(
                    F.length(t) >= 6,
                    F.concat(F.lit("[["), F.col("source"), F.lit("|"), t, F.lit("]]")),
                ).otherwise(t),
            ),
            " ",
        ).alias("text"),
    )
    sp = parse_markup_to_spans(marked)
    return sp.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.md5(span_sequence_key("spans")).alias("seq_hash"),
        F.md5(
            F.concat_ws(
                "\u0001",
                F.transform("spans", lambda s: s["offset"].cast("string")),
            )
        ).alias("off_hash"),
        F.md5(plain_text("spans")).alias("plain_hash"),
        F.md5(spans_to_markup("spans")).alias("rt_hash"),
    )


# Expected spans from a token walk: anchor tokens (len ≥ 6) are spans of
# their own; maximal runs of raw tokens fold into ONE text span that absorbs
# the space separators (leading space iff an anchor precedes the run,
# trailing space iff one follows); adjacent anchors leave a single-space
# text span between them. Offsets are cumulative token positions in the
# plain text. plain_hash = md5(text) directly (the parser must reconstruct
# the original), rt_hash = md5(markup) (serialization must invert).
# ------------------------------------------------- media-ref integrity
# Interleaved corpus: every doc carries one image marker (23 distinct
# refs), every 3rd a video marker (5 refs), every 7th repeats its image
# marker (per-OCCURRENCE counting). The catalog knows img_0..15 and
# vid_0..2, so img_16..22 / vid_3..4 are dangling. The spans come from the
# REAL markup parser, not from arithmetic — only the ORACLE derives the
# expected refs independently.


def q_media_ref_audit(spark, sf_dir):
    """Media-reference integrity over the interleaved span table: parse
    media markers through parse_markup_to_spans, audit every media span's
    ref against a catalog (operators/spans.media_ref_audit). Per-doc
    counts + sorted dangling list (hashed), all docs surviving — the
    pre-publish validation pass for a text+media lake."""
    from xlink_spark.operators.spans import media_ref_audit, parse_markup_to_spans

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    img = F.concat(F.lit("img_"), F.expr("cast(doc_id % 23 as string)"))
    marked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" [[media:"), img, F.lit("]]"),
            F.when(
                F.expr("doc_id % 3 = 0"),
                F.concat(
                    F.lit(" x [[media:vid_"),
                    F.expr("cast(doc_id % 5 as string)"),
                    F.lit("]]"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.expr("doc_id % 7 = 0"),
                F.concat(F.lit(" [[media:"), img, F.lit("]]")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    catalog = (
        spark.range(16)
        .select(F.concat(F.lit("img_"), F.col("id").cast("string")).alias("media_ref"))
        .unionByName(
            spark.range(3).select(
                F.concat(F.lit("vid_"), F.col("id").cast("string")).alias("media_ref")
            )
        )
    )
    audited = media_ref_audit(parse_markup_to_spans(marked), catalog)
    return audited.select(
        "doc_id",
        "n_media",
        "n_resolved",
        "n_dangling",
        F.md5(F.array_join("dangling_refs", ",")).alias("dangling_hash"),
    )


SQL_MEDIA_REF_AUDIT = """
with c as (
  select doc_id,
         'img_' || (doc_id % 23)::varchar as img,
         case when doc_id % 3 = 0 then 'vid_' || (doc_id % 5)::varchar end as vid,
         (doc_id % 7 = 0) as rep
  from documents
),
refs as (
  select doc_id, img as ref from c
  union all select doc_id, vid from c where vid is not null
  union all select doc_id, img from c where rep
),
cat as (
  select 'img_' || i::varchar as ref from range(16) t(i)
  union all select 'vid_' || i::varchar from range(3) u(i)
),
j as (
  select r.doc_id, r.ref, (cat.ref is null) as dang
  from refs r left join cat on r.ref = cat.ref
)
select d.doc_id,
       count(j.ref)::bigint as n_media,
       coalesce(sum(case when not dang then 1 else 0 end), 0)::bigint as n_resolved,
       coalesce(sum(case when dang then 1 else 0 end), 0)::bigint as n_dangling,
       md5(coalesce(string_agg(case when dang then j.ref end, ',' order by j.ref),
                    '')) as dangling_hash
from documents d
left join j on d.doc_id = j.doc_id
group by d.doc_id
"""


SQL_SPAN_ROUNDTRIP = """
with t1 as (
  select doc_id, source, i, tok, length(tok) >= 6 as anch,
    coalesce(sum(length(tok) + 1) over (partition by doc_id order by i
      rows between unbounded preceding and 1 preceding), 0)::int as pos,
    coalesce(sum(case when length(tok) >= 6 then 1 else 0 end)
      over (partition by doc_id order by i
      rows between unbounded preceding and 1 preceding), 0)::int as r
  from (
    select doc_id, source, generate_subscripts(ts, 1) as i, unnest(ts) as tok
    from (select doc_id, source, string_split(text, ' ') as ts from documents)
  )
),
na as (select doc_id, sum(case when anch then 1 else 0 end)::int as a_total
       from t1 group by 1),
anchors as (select doc_id, r + 1 as k, tok, pos, source from t1 where anch),
runs as (
  select doc_id, r, string_agg(tok, ' ' order by i) as body,
         min(pos)::int as first_pos
  from t1 where not anch group by doc_id, r
),
cand as (
  select a.doc_id, a.k as r, (a.pos + length(a.tok))::int as empty_off
  from anchors a join na using (doc_id) where a.k < na.a_total
),
tspans as (
  select coalesce(rn.doc_id, c.doc_id) as doc_id,
         -- empty interior run = the ONE separator char between two
         -- adjacent anchors; leading/trailing affixes apply only when the
         -- run has tokens (then they are distinct characters)
         case when rn.r is null then ' '
              else case when rn.r > 0 then ' ' else '' end
                || rn.body
                || case when rn.r < n.a_total then ' ' else '' end
         end as content,
         coalesce(rn.first_pos - case when rn.r > 0 then 1 else 0 end,
                  c.empty_off)::int as off
  from runs rn
  full outer join cand c on rn.doc_id = c.doc_id and rn.r = c.r
  join na n on n.doc_id = coalesce(rn.doc_id, c.doc_id)
),
allspans as (
  select doc_id, off, 'text' as kind, content as stext,
         cast(null as varchar) as mref
  from tspans where content <> ''
  union all
  select doc_id, pos as off, 'anchor' as kind, tok as stext, source as mref
  from anchors
),
agg as (
  select doc_id, count(*)::int as n_spans,
    md5(string_agg(kind || chr(2) || coalesce(stext, chr(0)) || chr(2)
                   || coalesce(mref, chr(0)), chr(1) order by off)) as seq_hash,
    md5(string_agg(off::varchar, chr(1) order by off)) as off_hash
  from allspans group by doc_id
),
marked as (
  select doc_id,
    string_agg(case when anch then '[[' || source || '|' || tok || ']]'
               else tok end, ' ' order by i) as markup
  from t1 group by doc_id
)
select d.doc_id, a.n_spans, a.seq_hash, a.off_hash,
       md5(d.text) as plain_hash, md5(m.markup) as rt_hash
from documents d join agg a using (doc_id) join marked m using (doc_id)
"""


def q_lm_scores(spark, sf_dir):
    """CCNet-style n-gram LM fluency filter (operators/lm.py): bigram
    stupid-backoff model trained on the lang='en' reference partition,
    scoring EVERY doc by mean token probability + OOV rate — all exact
    integer micro-unit arithmetic (log-free), so the oracle is bit-exact."""
    from xlink_spark.operators.lm import lm_scores, train_bigram_lm

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    uni, bg = train_bigram_lm(docs.filter(F.col("lang") == "en"))
    return lm_scores(docs, uni, bg)


SQL_LM_SCORES = """
with toks as (
  select doc_id, lang, i, tok
  from (
    select doc_id, lang, generate_subscripts(ts, 1) as i, unnest(ts) as tok
    from (select doc_id, lang, string_split(lower(text), ' ') as ts
          from documents)
  ) where tok <> ''
),
uni as (select tok as w, count(*)::bigint as c1 from toks
        where lang = 'en' group by 1),
tot as (select sum(c1)::bigint as total from uni),
refbg as (
  select w1, w2, count(*)::bigint as c12
  from (select tok as w1,
               lead(tok) over (partition by doc_id order by i) as w2
        from toks where lang = 'en')
  where w2 is not null group by 1, 2
),
bg as (
  select doc_id, w1, w2
  from (select doc_id, tok as w1,
               lead(tok) over (partition by doc_id order by i) as w2
        from toks)
  where w2 is not null
),
p as (
  select bg.doc_id,
    case when rb.c12 is not null then rb.c12 * 1000000 // u1.c1
         when u2.c1 is not null
           then u2.c1 * 1000000 * 2 // (5 * (select total from tot))
         else 0 end::bigint as p_u,
    case when u2.c1 is null then 1 else 0 end as is_oov
  from bg
  left join refbg rb on rb.w1 = bg.w1 and rb.w2 = bg.w2
  left join uni u1 on u1.w = bg.w1
  left join uni u2 on u2.w = bg.w2
),
agg as (
  select doc_id, count(*)::bigint as n_bigrams,
         (sum(p_u) // count(*))::bigint as lm_score_u,
         (sum(is_oov) * 1000000 // count(*))::bigint as oov_u
  from p group by 1
)
select d.doc_id,
       coalesce(a.n_bigrams, 0)::bigint as n_bigrams,
       coalesce(a.lm_score_u, 0)::bigint as lm_score_u,
       coalesce(a.oov_u, 0)::bigint as oov_u
from (select distinct doc_id from documents) d
left join agg a using (doc_id)
"""


def q_table_diff(spark, sf_dir):
    """Snapshot changelog (plans/incremental.table_diff): diff the corpus
    against a simulated next version (doc_id%10 deleted, doc_id%7 edited,
    doc_id%5 copied in under +300000 ids) — the operator that lets
    link_increment re-process ONLY added/changed docs between two committed
    snapshots. The oracle derives the expected fates independently from the
    update rules, never by re-running a diff."""
    from xlink_spark.plans.incremental import table_diff

    docs = spark.read.parquet(_T(sf_dir, "documents")).select(
        "doc_id", "text", "lang", "source"
    )
    new = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text", "lang", "source"
    )
    return table_diff(docs, new.unionByName(added), ["doc_id"])


SQL_TABLE_DIFF = """
select doc_id, 'removed' as change from documents where doc_id % 10 = 0
union all
select doc_id, 'changed' as change from documents
where doc_id % 7 = 0 and doc_id % 10 <> 0
union all
select doc_id + 300000 as doc_id, 'added' as change from documents
where doc_id % 5 = 0
"""


def q_chunk_documents(spark, sf_dir):
    """Sliding token-window chunking for context prep
    (operators/packing.chunk_documents): 40-token windows, stride 30 —
    every chunk's text, exact char offset, and token count hash-checked."""
    from xlink_spark.operators.packing import chunk_documents

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return chunk_documents(docs, max_tokens=40, stride=30).select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        "char_start",
        F.md5("chunk_text").alias("chunk_hash"),
    )


SQL_CHUNK_DOCUMENTS = """
with d as (
  select doc_id, list_filter(string_split(text, ' '), t -> t <> '') as ts
  from documents
),
b as (
  select doc_id, ts, len(ts) as n,
    case when len(ts) <= 0 then 0
         else 1 + greatest(0, (len(ts) - 40 + 30 - 1) // 30) end as n_chunks
  from d
),
k as (
  select doc_id, ts, n, unnest(generate_series(0, n_chunks - 1)) as chunk_id
  from b where n_chunks > 0
)
select doc_id, chunk_id::bigint as chunk_id,
  len(list_slice(ts, chunk_id * 30 + 1, least(chunk_id * 30 + 40, n)))::bigint
    as n_tokens,
  (length(coalesce(array_to_string(list_slice(ts, 1, chunk_id * 30), ' '), ''))
    + case when chunk_id > 0 then 1 else 0 end)::bigint as char_start,
  md5(array_to_string(
    list_slice(ts, chunk_id * 30 + 1, least(chunk_id * 30 + 40, n)), ' '
  )) as chunk_hash
from k
"""


def _md5_delete(col: str):
    """Delete the char at position md5(col) % len — the deterministic,
    engine-portable corruption both fuzzy oracles use (15 hex chars < 2^60
    so conv() is exact; pmod == % because both operands are non-negative)."""
    q = f"cast(pmod(conv(substring(md5({col}), 1, 15), 16, 10), length({col})) as int)"
    return F.expr(f"concat(substring({col}, 1, {q}), substring({col}, {q} + 2))")


def q_fuzzy_surface_match(spark, sf_dir):
    """SymSpell-style fuzzy surface matching
    (operators/fuzzy.fuzzy_surface_candidates): deletion-neighborhood
    blocking + levenshtein verify — the linear-cost alternative to a cross
    join for dirty-mention → KB candidate generation (the reference's trie
    lookup, MentionParser.py:53-68, is exact-match only).

    Dictionary: distinct unigram tokens (len ≥ 4) ∪ distinct bigrams of the
    corpus. Dirty mentions: each surface with ONE char deleted at an
    md5-chosen position (deterministic and portable — both engines pick the
    same char). Output: every (mention, surface) pair within edit distance
    1, the oracle finding them by brute-force levenshtein over all pairs.
    """
    from xlink_spark.operators.fuzzy import fuzzy_surface_candidates

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    ts = docs.select(
        F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias("ts")
    )
    uni = ts.select(F.explode("ts").alias("surface")).where(F.length("surface") >= 4)
    # guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]), so a 0/1-token
    # doc would index out of range under ANSI — emit an empty array instead
    # (explode then drops the row, same as the oracle's i+1 join)
    bi = ts.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> concat(ts[i-1], ' ', ts[i]))"
                ),
            ).otherwise(F.expr("cast(array() as array<string>)"))
        ).alias("surface")
    )
    surfaces = uni.union(bi).distinct()
    dirty = surfaces.select(_md5_delete("surface").alias("mention"))
    return fuzzy_surface_candidates(dirty, surfaces).orderBy("mention", "surface")


SQL_FUZZY_SURFACE_MATCH = """
with base as (
  select doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as ts
  from documents
),
pos as (
  select doc_id, unnest(ts) as surface, generate_subscripts(ts, 1) as i from base
),
uni as (
  select surface from pos
),
bi as (
  select a.surface || ' ' || b.surface as surface
  from pos a join pos b on a.doc_id = b.doc_id and b.i = a.i + 1
),
surfaces as (
  select distinct surface from (
    select surface from uni where length(surface) >= 4
    union all select surface from bi
  )
),
dirty as (
  select distinct
    substr(surface, 1, p) || substr(surface, p + 2) as mention
  from (
    select surface,
      (('0x' || substr(md5(surface), 1, 15))::bigint % length(surface))::int as p
    from surfaces
  )
)
select d.mention, s.surface, levenshtein(d.mention, s.surface)::int as dist
from dirty d
join surfaces s on levenshtein(d.mention, s.surface) <= 1
where length(d.mention) >= 2 and length(s.surface) >= 2
order by mention, surface
"""


def q_fuzzy_candidate_priors(spark, sf_dir):
    """Fuzzy candidate generation end-to-end: a dirty (md5-corrupted)
    mention recovers its P(e|m) candidates through the deletion-neighborhood
    match — the concrete ER payoff of operators/fuzzy (the reference's
    exact-match probe, ProbHolder.py:37-51, returns nothing for these).

    Top-3 candidates per dirty mention, ranked by (edit distance, anchor
    count desc, entity_id): within a mention the P(e|m) denominator is
    constant, so ranking by the exact bigint ``cnt`` IS the prior ranking
    without float-ordering hazards; ``p`` is reported rounded.
    """
    from xlink_spark.operators.fuzzy import fuzzy_surface_candidates

    ma = q_mention_anchors(spark, sf_dir)
    surfaces = ma.select(F.col("mention").alias("surface")).distinct()
    dirty = surfaces.select(_md5_delete("surface").alias("mention"))
    pairs = fuzzy_surface_candidates(dirty, surfaces)
    w = Window.partitionBy("mention")
    egm = ma.select(
        F.col("mention").alias("surface"),
        "entity_id",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("p"),
    )
    ranked = pairs.join(egm, "surface").withColumn(
        "cand_rank",
        F.row_number().over(
            Window.partitionBy("mention").orderBy(
                "dist", F.col("cnt").desc(), "entity_id", "surface"
            )
        ),
    )
    return ranked.where(F.col("cand_rank") <= 3).select(
        "mention", "surface", "dist", "entity_id", F.col("cnt").cast("long").alias("cnt"), "p", "cand_rank"
    )


SQL_FUZZY_CANDIDATE_PRIORS = f"""
with ma as ({_MA_SQL}),
surfaces as (select distinct mention as surface from ma),
dirty as (
  select distinct substr(surface, 1, q) || substr(surface, q + 2) as mention
  from (
    select surface,
      (('0x' || substr(md5(surface), 1, 15))::bigint % length(surface))::int as q
    from surfaces
  )
),
pairs as (
  select d.mention, s.surface, levenshtein(d.mention, s.surface)::int as dist
  from dirty d join surfaces s on levenshtein(d.mention, s.surface) <= 1
  where length(d.mention) >= 2 and length(s.surface) >= 2
),
egm as (
  select mention as surface, entity_id, cnt::bigint as cnt,
         round(cnt / (sum(cnt) over (partition by mention)), 6) as p
  from ma
),
ranked as (
  select pr.mention, pr.surface, pr.dist, e.entity_id, e.cnt, e.p,
         row_number() over (
           partition by pr.mention
           order by pr.dist, e.cnt desc, e.entity_id, pr.surface
         )::int as cand_rank
  from pairs pr join egm e using (surface)
)
select * from ranked where cand_rank <= 3
"""




def q_jaccard_pairs_exact(spark, sf_dir):
    """Exact prefix-filtered set-similarity join (operators/setsim) — the
    zero-miss complement to lsh_jaccard_pairs on the SAME near-dup corpus
    and threshold (0.5): candidates from an equi-join on rarest-first
    shingle prefixes (complete by the prefix-filtering theorem), exact
    bigint cross-multiplication threshold test. The oracle is a brute-force
    shared-shingle self-join, so the hash certifies completeness, not just
    precision.
    """
    from xlink_spark.operators.dedup import shingles
    from xlink_spark.operators.setsim import jaccard_join_exact

    corpus = _doc_pairs_corpus(spark, sf_dir)
    sh = shingles(corpus, n=3)
    return jaccard_join_exact(sh, threshold_ppm=500_000).orderBy("doc_a", "doc_b")


SQL_JACCARD_PAIRS_EXACT = f"""
with sh as ({_sql_shingles(_SQL_PAIRS_CORPUS)}),
n as (select doc_id, count(*)::bigint as n from sh group by 1),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*)::bigint as inter
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
j as (
  select doc_a, doc_b, inter, (na.n + nb.n - inter)::bigint as uni
  from inter
  join n na on na.doc_id = inter.doc_a
  join n nb on nb.doc_id = inter.doc_b
)
select doc_a, doc_b, inter, uni, (inter * 1000000 // uni)::bigint as jac_ppm
from j where inter * 1000000 >= 500000 * uni
order by doc_a, doc_b
"""


def q_cluster_stable_ids(spark, sf_dir):
    """Stable cluster ids across snapshot runs
    (operators/cluster.reconcile_cluster_ids): CC labels components by
    minimum node id, so a delta batch that adds/removes a component's
    minimum node RELABELS it — this maps the current run's components onto
    the previous snapshot's ids by max node overlap (greedy deterministic
    bipartite match, carried ids unique).

    Previous snapshot: the supplier–nation graph without suppliers whose
    key % 10 == 0 and without nations whose key % 7 == 0 (so some current
    components relabel, and the %7 nations' components come back 'new').
    """
    from xlink_spark.operators.cluster import connected_components, reconcile_cluster_ids

    sup = spark.read.parquet(_T(sf_dir, "supplier"))
    edges_cur = sup.select(
        F.col("s_suppkey").cast("long").alias("src"),
        (F.col("s_nationkey").cast("long") + 100000).alias("dst"),
    )
    edges_prev = sup.where(
        (F.col("s_suppkey") % 10 != 0) & (F.col("s_nationkey") % 7 != 0)
    ).select(
        F.col("s_suppkey").cast("long").alias("src"),
        (F.col("s_nationkey").cast("long") + 100000).alias("dst"),
    )
    out = reconcile_cluster_ids(
        connected_components(edges_prev), connected_components(edges_cur)
    )
    return out.orderBy("component")


SQL_CLUSTER_STABLE_IDS = """
with recursive
e_cur as (
  select s_suppkey::bigint as src, s_nationkey::bigint + 100000 as dst from supplier
),
e_prev as (
  select s_suppkey::bigint as src, s_nationkey::bigint + 100000 as dst from supplier
  where s_suppkey % 10 <> 0 and s_nationkey % 7 <> 0
),
u_cur as (select src, dst from e_cur union select dst, src from e_cur),
u_prev as (select src, dst from e_prev union select dst, src from e_prev),
w_cur (node, comp) as (
  select src as node, least(src, min(dst)) as comp from u_cur group by src
  union
  select w.node, least(w.comp, w2.comp) as comp
  from w_cur w join u_cur u on u.src = w.node join w_cur w2 on w2.node = u.dst
  where least(w.comp, w2.comp) < w.comp
),
w_prev (node, comp) as (
  select src as node, least(src, min(dst)) as comp from u_prev group by src
  union
  select w.node, least(w.comp, w2.comp) as comp
  from w_prev w join u_prev u on u.src = w.node join w_prev w2 on w2.node = u.dst
  where least(w.comp, w2.comp) < w.comp
),
cc_cur as (select node, min(comp) as component from w_cur group by node),
cc_prev as (select node, min(comp) as component from w_prev group by node),
ov as (
  select c.component as cur, p.component as prev, count(*)::bigint as overlap
  from cc_cur c join cc_prev p using (node) group by 1, 2
),
r1 as (
  select *, row_number() over (partition by cur order by overlap desc, prev) as k1
  from ov
),
r2 as (
  select *, row_number() over (partition by prev order by overlap desc, cur) as k2
  from r1 where k1 = 1
),
carried as (
  select cur as component, prev as stable_id, overlap, 'carried' as origin
  from r2 where k2 = 1
),
allc as (select distinct component from cc_cur)
select a.component,
  coalesce(c.stable_id, a.component) as stable_id,
  coalesce(c.overlap, 0)::bigint as overlap,
  coalesce(c.origin, 'new') as origin
from allc a left join carried c using (component)
order by component
"""


def q_fuzzy_detected_mentions(spark, sf_dir):
    """Typo-tolerant join-path detection end-to-end
    (operators/fuzzy.detect_mentions_fuzzy): real text n-grams matched
    against a dictionary of CORRUPTED aliases (each detection-base surface
    with one md5-chosen char deleted — a deterministic misspelled-alias
    table both engines derive identically), so every canonical surface in
    the text hits its alias at distance 1 and the span offsets, matched
    surface, and dist column are all hash-checked.
    """
    from xlink_spark.operators.fuzzy import detect_mentions_fuzzy

    docs_norm, dct = _detection_base(spark, sf_dir)
    dirty = dct.select(
        _md5_delete("mention").alias("mention"), "parse_from"
    ).distinct()
    out = detect_mentions_fuzzy(docs_norm, dirty, max_words=2, min_len=5)
    return out.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "surface",
        "matched_surface",
        "parse_from",
        "dist",
    )


SQL_FUZZY_DETECTED_MENTIONS = """
with base as (
  select doc_id::varchar as doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') as ts
  from documents
),
pos as (
  select doc_id, unnest(ts) as tok, generate_subscripts(ts, 1) as i from base
),
offs as (
  select doc_id, tok, i,
         coalesce(sum(length(tok) + 1) over (
           partition by doc_id order by i
           rows between unbounded preceding and 1 preceding), 0)::bigint as start
  from pos
),
uni as (
  select distinct tok as mention from pos where length(tok) >= 6
),
bi as (
  select a.tok || ' ' || b.tok as mention
  from pos a join pos b on a.doc_id = b.doc_id and b.i = a.i + 1
  group by 1 having count(*) >= 40
),
dict as (
  select mention, 'ma' as parse_from from uni
  union all
  select mention, 'tt' as parse_from from bi
),
dirty as (
  select distinct
    substr(mention, 1, q) || substr(mention, q + 2) as mention, parse_from
  from (
    select mention, parse_from,
      (('0x' || substr(md5(mention), 1, 15))::bigint % length(mention))::int as q
    from dict
  )
),
grams as (
  select doc_id, start, start + length(tok) as "end", tok as surface from offs
  union all
  select a.doc_id, a.start, (b.start + length(b.tok))::bigint as "end",
         a.tok || ' ' || b.tok as surface
  from offs a join offs b on a.doc_id = b.doc_id and b.i = a.i + 1
),
qsurf as (select distinct surface from grams where length(surface) >= 5),
dsurf as (select distinct mention from dirty where length(mention) >= 5),
pairs as (
  select q.surface, d.mention, levenshtein(q.surface, d.mention)::int as dist
  from qsurf q join dsurf d on levenshtein(q.surface, d.mention) <= 1
),
matched as (
  select p.surface, p.mention as matched_surface, dd.parse_from, p.dist
  from pairs p join (select distinct mention, parse_from from dirty
                     where length(mention) >= 5) dd
    on p.mention = dd.mention
)
select g.doc_id, g.start, g."end", g.surface,
       m.matched_surface, m.parse_from, m.dist
from grams g join matched m on g.surface = m.surface
"""


def q_quality_drift(spark, sf_dir):
    """Snapshot-to-snapshot distribution drift (PSI) of the quality score
    (textstats.histogram_drift): previous snapshot = docs with
    doc_id % 10 != 0, current = all docs; buckets are quality_u div 10000
    (integer µ-unit division — no float re-quantization), rates in integer
    ppm with the epsilon clamp, per-bucket psi_micro = floor((rc−rp)·
    ln(rc/rp)) so the total is an order-independent bigint sum. The gauge a
    pipeline checks before letting a new snapshot retrain gates.
    """
    from xlink_spark.operators.textstats import histogram_drift

    qs = q_quality_scores(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("quality_u div 10000").alias("bucket"),
    )
    prev = qs.where(F.col("doc_id") % 10 != 0)
    return histogram_drift(prev, qs).orderBy("bucket")


SQL_QUALITY_DRIFT = f"""
with qs as ({SQL_QUALITY_SCORES}),
b as (select doc_id::bigint as doc_id, quality_u // 10000 as bucket from qs),
hp as (select bucket, count(*)::bigint as prev_n from b
       where doc_id % 10 <> 0 group by 1),
hc as (select bucket, count(*)::bigint as cur_n from b group by 1),
j as (
  select coalesce(hp.bucket, hc.bucket) as bucket,
         coalesce(prev_n, 0)::bigint as prev_n,
         coalesce(cur_n, 0)::bigint as cur_n
  from hp full outer join hc on hp.bucket = hc.bucket
),
r as (
  select bucket, prev_n, cur_n,
    greatest((prev_n * 1000000) // (sum(prev_n) over ()), 100)::bigint as prev_ppm,
    greatest((cur_n * 1000000) // (sum(cur_n) over ()), 100)::bigint as cur_ppm
  from j
)
select bucket, prev_n, cur_n, prev_ppm, cur_ppm,
  floor((cur_ppm - prev_ppm) * ln(cur_ppm / prev_ppm))::bigint as psi_micro
from r
order by bucket
"""


def q_decayed_priors(spark, sf_dir):
    """Recency-weighted P(e|m) (anchors.decayed_anchor_counts): per-batch
    anchor counts (batch = doc_id % 4 as a deterministic 4-version trail,
    current = 3) decayed by exact halvings — weight 2^-(age) computed as a
    SHIFT in bigint 2^-40 units, never a float power, so partial
    aggregation is order-independent and the decayed probability is the
    same round(bigint/bigint, 6) shape as the undecayed tables.
    """
    from xlink_spark.operators.anchors import decayed_anchor_counts

    batched = (
        _tokens(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .groupBy(
            F.col("tok").alias("mention"),
            F.col("source").alias("entity_id"),
            (F.col("doc_id") % 4).alias("batch"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return decayed_anchor_counts(batched, current_batch=3).orderBy(
        "mention", "entity_id"
    )


SQL_DECAYED_PRIORS = f"""
with t as ({_TOKENS_SQL}),
batched as (
  select tok as mention, source as entity_id, doc_id % 4 as batch,
         count(*)::bigint as cnt
  from t where lang = 'en' group by 1, 2, 3
),
weighted as (
  select mention, entity_id,
    sum(case when (3 - batch) <= 40
             then cnt * (1::bigint << (40 - (3 - batch)::int))
             else 0 end)::bigint as w_cnt
  from batched group by 1, 2
),
tot as (
  select mention, entity_id, w_cnt,
         sum(w_cnt) over (partition by mention)::bigint as w_total
  from weighted
)
select mention, entity_id, w_cnt, w_total, round(w_cnt / w_total, 6) as p
from tot where w_total > 0
order by mention, entity_id
"""


_BLOCKING_KEYS = {
    # name -> (Spark expr over `tok`, DuckDB expr over `tok`)
    "surface": ("tok", "tok"),
    "prefix4": ("substring(tok, 1, 4)", "substr(tok, 1, 4)"),
    "md5bucket64": (
        "cast(pmod(conv(substring(md5(tok), 1, 15), 16, 10), 64) as string)",
        "((('0x' || substr(md5(tok), 1, 15))::bigint % 64))::varchar",
    ),
}


def q_blocking_compare(spark, sf_dir):
    """Blocking-key selection (eval/blocking.blocking_quality per key): the
    PC/RR frontier across three candidate keys — the exact surface (the
    pipeline's key), a 4-char prefix (coarser: recall can only rise,
    reduction falls), and a 64-way md5 bucket (the degenerate control:
    near-total co-blocking, near-zero reduction). One row per key; the
    choice a 10^12-record deployment makes from group-size arithmetic
    alone, no pair ever materialized.
    """
    from xlink_spark.eval.blocking import blocking_quality

    toks = (
        _tokens(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select("tok", F.col("source").alias("entity_id"))
    )
    outs = []
    for name, (spark_expr, _) in _BLOCKING_KEYS.items():
        recs = toks.select(
            F.expr(spark_expr).alias("block"), "entity_id"
        )
        outs.append(
            blocking_quality(recs).select(F.lit(name).alias("key_name"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("key_name")


def _sql_blocking_for_key(name: str, duck_expr: str) -> str:
    return f"""
select '{name}' as key_name, n_records, n_blocks, n_entities, cand_pairs,
       true_pairs, co_blocked_pairs,
  (case when true_pairs > 0
        then co_blocked_pairs * 1000000 // true_pairs
        else 1000000 end)::bigint as pc_micro,
  (case when n_records > 1 and (n_records * (n_records - 1) // 2) > 0
        then 1000000 - cand_pairs * 1000000 // (n_records * (n_records - 1) // 2)
        else 1000000 end)::bigint as rr_micro
from (
  select
    (select count(*)::bigint from r_{name}) as n_records,
    (select count(distinct b)::bigint from r_{name}) as n_blocks,
    (select count(distinct e)::bigint from r_{name}) as n_entities,
    (select sum(n * (n - 1) // 2)::bigint from
      (select b, count(*)::bigint as n from r_{name} group by 1)) as cand_pairs,
    (select sum(n * (n - 1) // 2)::bigint from
      (select e, count(*)::bigint as n from r_{name} group by 1)) as true_pairs,
    (select sum(n * (n - 1) // 2)::bigint from
      (select b, e, count(*)::bigint as n from r_{name} group by 1, 2))
      as co_blocked_pairs
)
"""


SQL_BLOCKING_COMPARE = (
    "with t as (" + _TOKENS_SQL + "), "
    + ", ".join(
        f"r_{name} as (select {duck} as b, source as e from t where lang = 'en')"
        for name, (_, duck) in _BLOCKING_KEYS.items()
    )
    + " "
    + " union all ".join(
        _sql_blocking_for_key(name, duck)
        for name, (_, duck) in _BLOCKING_KEYS.items()
    )
    + " order by key_name"
)


# ------------------------------------------------- incremental CC / pagerank
def q_cc_incremental(spark, sf_dir):
    """Additive incremental CC (operators/cluster.incremental_components):
    the supplier–nation graph arrives in two batches (suppkey % 5 splits
    them); batch 1 is clustered in full, batch 2 is folded in through the
    contracted delta graph. The oracle is a FULL recursive-CTE CC over the
    union — green means the incremental path is row-identical to a
    from-scratch recompute on an independent engine."""
    from xlink_spark.operators.cluster import incremental_components

    sup = spark.read.parquet(_T(sf_dir, "supplier"))
    edges = sup.select(
        F.col("s_suppkey").cast("long").alias("src"),
        (F.col("s_nationkey").cast("long") + 100000).alias("dst"),
    )
    old = edges.filter(F.col("src") % 5 != 0)
    new = edges.filter(F.col("src") % 5 == 0)
    from xlink_spark.operators.cluster import connected_components as _cc

    return incremental_components(_cc(old), new)


SQL_CC_INCREMENTAL = SQL_CONNECTED_COMPONENTS


def _sql_pagerank(edges_sql: str, iterations: int = 3) -> str:
    """Unrolled integer-PageRank CTE chain mirroring pagerank_integer:
    bigint micro-units, `//` integer division, 17/20 damping — every
    arithmetic step is exact, so the hash must match bit-for-bit."""
    parts = [
        f"edges as ({edges_sql})",
        "nodes as (select src as node from edges union select dst as node from edges)",
        "outdeg as (select src, count(*)::bigint as outdeg from edges group by 1)",
        "r0 as (select node, 1000000::bigint as r from nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"s{i + 1} as (select e.dst as node, sum(r.r // o.outdeg)::bigint as s "
            f"from edges e join outdeg o on o.src = e.src "
            f"join r{i} r on r.node = e.src group by 1)"
        )
        parts.append(
            f"r{i + 1} as (select n.node, "
            f"(150000 + (17 * coalesce(s.s, 0)) // 20)::bigint as r "
            f"from nodes n left join s{i + 1} s on s.node = n.node)"
        )
    return (
        "with "
        + ", ".join(parts)
        + f" select node, r as rank_micro from r{iterations}"
    )


def q_entity_pagerank(spark, sf_dir):
    """Entity salience by random walk on the mention↔entity anchor graph
    (cluster.pagerank_integer, 3 iterations): the graph-structural
    analogue of the count-based entity_prior (the reference's popularity
    prior, generate_prob_files.py:88-118) — an entity referenced by many
    ambiguous surfaces accumulates rank through both edge directions.
    Exact bigint arithmetic end to end; oracled by an unrolled CTE chain."""
    from xlink_spark.operators.cluster import pagerank_integer

    ma = q_mention_anchors(spark, sf_dir)
    pairs = ma.select(
        F.concat(F.lit("m:"), F.col("mention")).alias("m"),
        F.concat(F.lit("e:"), F.col("entity_id")).alias("e"),
    ).distinct()
    edges = pairs.select(F.col("m").alias("src"), F.col("e").alias("dst")).unionByName(
        pairs.select(F.col("e").alias("src"), F.col("m").alias("dst"))
    )
    return pagerank_integer(edges, iterations=3)


SQL_ENTITY_PAGERANK = _sql_pagerank(
    f"with ma as ({_MA_SQL}), p as (select distinct 'm:' || mention as m, "
    f"'e:' || entity_id as e from ma) "
    f"select m as src, e as dst from p union all select e as src, m as dst from p",
    iterations=3,
)


# ------------------------------------------------------------------- search
def q_bm25_topk(spark, sf_dir):
    """BM25 keyword search over documents (operators/search.bm25_topk):
    integer micro-unit scoring, query ['dup', 'vector'] — 'dup' is the
    one minority term in the synthetic vocabulary (df=25 of 500) and
    'vector' exercises the majority-term idf clamp (df > N/2 ⇒ idf 0).
    The single float step, floor(ln(ratio)·1e6), was margin-measured:
    0.43 µ from the nearest boundary at both scale factors (the
    oracle-robustness protocol)."""
    from xlink_spark.operators.search import bm25_topk

    docs = spark.read.parquet(_T(sf_dir, "documents"))
    return bm25_topk(docs, ["dup", "vector"], k=20)


def _sql_bm25(terms: list[str], k: int = 20) -> str:
    terms = sorted({t.lower() for t in terms})
    tf_cols = ", ".join(
        f"least(len(list_filter(ts, x -> x = '{t}')), 1000)::bigint as tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(case when tf_{i} > 0 then 1 else 0 end)::bigint as df_{i}"
        for i in range(len(terms))
    )
    idf_cols = ", ".join(
        f"greatest(floor(ln((2 * n - 2 * df_{i} + 1)::double / "
        f"(2 * df_{i} + 1)::double) * 1000000)::bigint, 0) as idf_{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"(case when b.tf_{i} > 0 and s.df_{i} > 0 then "
        f"(s.idf_{i} * 22 * b.tf_{i} * 1000000) // "
        f"(10 * b.tf_{i} * 1000000 + 3000000 + 9 * b.rho_u) else 0 end)"
        for i in range(len(terms))
    )
    return f"""
with tok as (
  select doc_id::varchar as doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') as ts
  from documents
),
base0 as (select doc_id, len(ts)::bigint as dl, {tf_cols} from tok),
stats0 as (select count(*)::bigint as n, sum(dl)::bigint as L, {df_cols} from base0),
stats as (select *, {idf_cols},
          ((L // n) * 1000000 + ((L % n) * 1000000) // n) as avgdl_u from stats0),
base as (select b.*, (b.dl * 1000000 * 1000000) // s.avgdl_u as rho_u
         from base0 b cross join stats s),
scored as (select b.doc_id, ({score})::bigint as score_micro
           from base b cross join stats s)
select doc_id, score_micro,
       row_number() over (order by score_micro desc, doc_id asc) as rank
from scored where score_micro > 0
order by score_micro desc, doc_id asc limit {k}
"""


SQL_BM25_TOPK = _sql_bm25(["dup", "vector"], k=20)


# --------------------------------------------- relatedness / collective link
_RES_SQL = SQL_RESOLVED_MENTIONS_TEMPLATE.format(detected=SQL_DETECTED_MENTIONS)

# Milne-Witten core over a `ln (doc_id, entity_id)` CTE (already distinct).
# The one float step is ln(); floor-to-micro boundary margins were measured
# in DuckDB before shipping (oracle-robustness protocol): surface links
# ≥4.9e-4 µ from the nearest floor boundary and ≥5.6e-5 from the negative
# clamp, top-3 candidate links ≥8.4e-3 µ / ≥4.1e-3 — engine ln() noise is
# ~1e-9 µ, so both oracles sit ≥4 orders of magnitude clear.
_SQL_REL_CORE = """
cntt as (select entity_id, count(*)::bigint as n_in from ln group by 1),
nd as (select count(distinct doc_id)::bigint as n_docs from ln),
prs as (
  select a.entity_id as entity_a, b.entity_id as entity_b,
         count(*)::bigint as n_ab
  from ln a join ln b on a.doc_id = b.doc_id and a.entity_id < b.entity_id
  group by 1, 2 having count(*) >= {min_cooccur}
),
rel as (
  select p.entity_a, p.entity_b, ca.n_in as n_a, cb.n_in as n_b, p.n_ab,
    (case when (select n_docs from nd) = least(ca.n_in, cb.n_in)
          then (case when p.n_ab = greatest(ca.n_in, cb.n_in)
                     then 1000000 else 0 end)
          else floor(1000000 * greatest(
            1.0 - (ln(greatest(ca.n_in, cb.n_in)::double) - ln(p.n_ab::double))
                / (ln((select n_docs from nd)::double)
                   - ln(least(ca.n_in, cb.n_in)::double)),
            0.0)) end)::bigint as rel_micro
  from prs p join cntt ca on ca.entity_id = p.entity_a
             join cntt cb on cb.entity_id = p.entity_b
)
"""


def q_entity_relatedness(spark, sf_dir):
    """Milne-Witten Wikipedia-Link-based relatedness (operators/relatedness)
    over the in-link table detection itself produces (doc → detected
    anchor surface, the 'ma' dictionary) — the pairwise upgrade of XLink's
    in-link lookup (get_in_links.py:5-19): sr(a,b) from the entities'
    in-link doc sets, emitted as floor-to-micro bigints. Links come from
    DETECTED spans, not resolved winners: the resolved layer degenerates
    to one span/doc at sf0.1 (the absolute bigram threshold fuses overlap
    chains), and a large pair table would push the min ln() floor margin
    under engine noise — measured here: ≥0.0066 µ at every sf including
    sf0.1 (det-all links measured 3e-10 µ at sf0.1 and were REJECTED by
    the oracle-robustness protocol)."""
    from xlink_spark.operators.relatedness import entity_relatedness

    det = q_detected_mentions(spark, sf_dir).filter(
        F.col("parse_from") == "ma"
    )
    links = det.select("doc_id", F.col("surface").alias("entity_id"))
    return entity_relatedness(links, min_cooccur=2, materialize=True)


SQL_ENTITY_RELATEDNESS = (
    f"with det as ({SQL_DETECTED_MENTIONS}), "
    f"ln as (select distinct doc_id, surface as entity_id from det"
    f"       where parse_from = 'ma'), "
    + _SQL_REL_CORE.format(min_cooccur=2)
    + " select entity_a, entity_b, n_a, n_b, n_ab, rel_micro from rel"
)


def q_coherence_rerank(spark, sf_dir):
    """Collective linking: one coherence iteration over the local prior
    scores (operators/relatedness.coherence_rerank). Candidates = resolved
    'ma' spans × their anchor entities with EXACT bigint local scores
    ((cnt·10⁶) div tot — integer-division prior, no float ordering);
    relatedness = Milne-Witten over each span's top-3 candidate entities
    (doc → entity links); pool capped at 5 mentions/doc. The fused ranking
    key believe·max(pool_n,1) + Σrel is all-bigint, so the winner is
    bit-stable across engines and partitionings; only rel_micro's ln()
    floors are float, margin-measured ≥5.2e-3 µ at every sf incl. sf0.1.

    Mentions are the DETECTED 'ma' spans (resolution degenerates at sf0.1,
    see q_entity_relatedness). The candidate table fans out 8 ways (pool,
    paired, and the relatedness build's two self-join sides + counts);
    persist the narrow rows once so the detection scan runs once (the
    flagship fan-out pattern)."""
    from xlink_spark.operators.relatedness import (
        coherence_rerank,
        entity_relatedness,
    )

    res = q_detected_mentions(spark, sf_dir).filter(F.col("parse_from") == "ma")
    ma = q_mention_anchors(spark, sf_dir)
    maw = ma.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("mention"))
    )
    cand = hold(
        res.join(F.broadcast(maw), res["surface"] == maw["mention"]).select(
            "doc_id",
            "start",
            "end",
            "entity_id",
            F.expr("(cnt * 1000000) div tot").cast("long").alias(
                "believe_micro"
            ),
        ),
        eager=True,
    )
    rnw = Window.partitionBy("doc_id", "start", "end").orderBy(
        F.col("believe_micro").desc(), F.col("entity_id").asc()
    )
    links = (
        cand.withColumn("_rn", F.row_number().over(rnw))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "entity_id")
    )
    rel = entity_relatedness(links, min_cooccur=2, materialize=True)
    return coherence_rerank(cand, rel, max_pool=5)


SQL_COHERENCE_RERANK = (
    f"with det as ({SQL_DETECTED_MENTIONS}), "
    "res as (select doc_id, start, \"end\", surface from det"
    " where parse_from = 'ma'), "
    f"ma as ({_MA_SQL}), "
    "tot as (select mention, sum(cnt)::bigint as tot from ma group by 1), "
    "cand as ("
    "  select r.doc_id, r.start, r.\"end\", m.entity_id,"
    "         (m.cnt * 1000000) // t.tot as believe_micro"
    "  from res r join ma m on m.mention = r.surface"
    "             join tot t on t.mention = r.surface), "
    "ln as ("
    "  select distinct doc_id, entity_id from ("
    "    select doc_id, entity_id, row_number() over ("
    "      partition by doc_id, start, \"end\""
    "      order by believe_micro desc, entity_id asc) as rn"
    "    from cand) where rn <= 3), "
    + _SQL_REL_CORE.format(min_cooccur=2).strip()
    + ", "
    "pool1 as ("
    "  select doc_id, start as p_start, \"end\" as p_end,"
    "         entity_id as p_entity, believe_micro from ("
    "    select *, row_number() over ("
    "      partition by doc_id, start, \"end\""
    "      order by believe_micro desc, entity_id asc) as rn"
    "    from cand) where rn = 1), "
    "pool as ("
    "  select doc_id, p_start, p_end, p_entity from ("
    "    select *, row_number() over (partition by doc_id"
    "      order by believe_micro desc, p_start asc, p_end asc) as dr"
    "    from pool1) where dr <= 5), "
    "paired as ("
    "  select c.doc_id, c.start, c.\"end\", c.entity_id, c.believe_micro,"
    "         p.p_entity, r.rel_micro"
    "  from cand c"
    "  left join pool p on p.doc_id = c.doc_id"
    "       and (p.p_start <> c.start or p.p_end <> c.\"end\")"
    "  left join rel r on r.entity_a = least(c.entity_id, p.p_entity)"
    "       and r.entity_b = greatest(c.entity_id, p.p_entity)), "
    "scored as ("
    "  select doc_id, start, \"end\", entity_id, believe_micro,"
    "         count(p_entity)::bigint as pool_n,"
    "         coalesce(sum(rel_micro), 0)::bigint as coherence_sum"
    "  from paired group by 1, 2, 3, 4, 5), "
    "fin as (select *, (believe_micro * greatest(pool_n, 1)"
    "         + coherence_sum)::bigint as score from scored) "
    "select doc_id, start, \"end\", entity_id, believe_micro, pool_n,"
    "       coherence_sum, score from ("
    "  select *, row_number() over (partition by doc_id, start, \"end\""
    "    order by score desc, entity_id asc) as rn from fin) where rn = 1"
)


# ------------------------------------------- sorted-neighborhood + Fellegi-Sunter
def _linkage_records(spark, sf_dir):
    """Clean customers ∪ a deterministic dirty copy (the labeled-duplicate
    corpus the FS estimator trains on): last name char bumped to the next
    codepoint (the adjacent-typo model — keeps twins 1-3 ranks apart in
    the sorted order), segment prefixed 'xx' for an md5-chosen third,
    nation shifted +1 for an md5-chosen half. Every corruption is an
    engine-portable md5 expression over the CLEAN columns."""
    cust = spark.read.parquet(_T(sf_dir, "customer")).select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nation"),
        # a stable high-signal identifier the corruption never touches —
        # unique per clean record, copied verbatim onto the twin: the
        # "expensive field" the escalation repair consults (see
        # q_cluster_repair); the cheap 3-field pass never reads it
        F.col("c_acctbal").alias("ident"),
    )
    dirty = cust.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(name, 1, length(name) - 1),"
            " char(ascii(substring(name, length(name), 1)) + 1))"
        ).alias("name"),
        F.expr(
            "case when pmod(cast(conv(substring(md5(name), 31, 2), 16, 10)"
            " as bigint), 3) = 0 then concat('xx', seg) else seg end"
        ).alias("seg"),
        (
            F.col("nation")
            + F.expr(
                "pmod(cast(conv(substring(md5(name), 16, 15), 16, 10)"
                " as bigint), 2)"
            )
        ).alias("nation"),
        F.col("ident"),
    )
    return cust.unionByName(dirty).withColumn(
        "key", F.expr("substring(name, 10, 4)")
    )


_SQL_LINKAGE_BASE = """
cust as (select c_custkey::bigint as id, c_name as name,
                c_mktsegment as seg, c_nationkey::bigint as nation,
                c_acctbal as ident
         from customer),
dirty as (select id + 10000000 as id,
  substr(name, 1, length(name) - 1)
    || chr(ascii(substr(name, length(name), 1)) + 1) as dname,
  case when (('0x' || substr(md5(name), 31, 2))::bigint % 3) = 0
       then 'xx' || seg else seg end as dseg,
  nation + (('0x' || substr(md5(name), 16, 15))::bigint % 2) as dnation,
  ident
  from cust),
recs as (select id, name, seg, nation, ident from cust
         union all
         select id, dname as name, dseg as seg, dnation as nation, ident
         from dirty),
ranked as (select *, row_number() over (
             order by substr(name, 10, 4), name, id)::bigint as rank
           from recs),
pairs as (select a.id as id_a, b.id as id_b, a.rank as rank_a,
                 b.rank as rank_b, (b.rank - a.rank)::bigint as dist
          from ranked a join ranked b
          on b.rank > a.rank and b.rank - a.rank <= 3)
"""

_SQL_LINKAGE_VEC = (
    _SQL_LINKAGE_BASE
    + """,
vec as (select p.id_a, p.id_b,
   (ra.name = rb.name) as agree_name,
   (ra.seg = rb.seg) as agree_seg,
   (ra.nation = rb.nation) as agree_nation,
   ((p.id_a % 10000000) = (p.id_b % 10000000)) as is_match
  from pairs p join ranked ra on ra.id = p.id_a
               join ranked rb on rb.id = p.id_b),
one as (select
  sum(case when is_match then 1 else 0 end)::bigint as nm,
  sum(case when not is_match then 1 else 0 end)::bigint as nn,
  sum(case when is_match and agree_name then 1 else 0 end)::bigint as ma1,
  sum(case when not is_match and agree_name then 1 else 0 end)::bigint as ua1,
  sum(case when is_match and agree_seg then 1 else 0 end)::bigint as ma2,
  sum(case when not is_match and agree_seg then 1 else 0 end)::bigint as ua2,
  sum(case when is_match and agree_nation then 1 else 0 end)::bigint as ma3,
  sum(case when not is_match and agree_nation then 1 else 0 end)::bigint as ua3
 from vec),
w as (select f.field,
  (f.ma + 1)::bigint as m_num, (o.nm + 2)::bigint as m_den,
  (f.ua + 1)::bigint as u_num, (o.nn + 2)::bigint as u_den,
  floor(1e6 * ln(((f.ma + 1) * (o.nn + 2))::double
                 / ((f.ua + 1) * (o.nm + 2))::double))::bigint
    as w_agree_micro,
  floor(1e6 * ln((((o.nm + 2) - (f.ma + 1)) * (o.nn + 2))::double
                 / (((o.nn + 2) - (f.ua + 1)) * (o.nm + 2))::double))::bigint
    as w_disagree_micro
 from one o, (select unnest(['agree_name', 'agree_seg', 'agree_nation']) as field,
                     unnest([ma1, ma2, ma3]) as ma,
                     unnest([ua1, ua2, ua3]) as ua from one) f)
"""
)

_LINKAGE_FIELDS = ["agree_name", "agree_seg", "agree_nation"]


def _linkage_vectors(spark, sf_dir):
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
        F.col("seg").alias("seg_a"),
        F.col("nation").alias("nation_a"),
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("seg").alias("seg_b"),
        F.col("nation").alias("nation_b"),
    )
    return pairs.join(ra, "id_a").join(rb, "id_b").select(
        "id_a",
        "id_b",
        (F.col("name_a") == F.col("name_b")).alias("agree_name"),
        (F.col("seg_a") == F.col("seg_b")).alias("agree_seg"),
        (F.col("nation_a") == F.col("nation_b")).alias("agree_nation"),
        F.expr("pmod(id_a, 10000000) = pmod(id_b, 10000000)").alias(
            "is_match"
        ),
    )


def _linkage_vectors4(spark, sf_dir):
    """Escalation comparison vectors: the three cheap fields plus
    ``agree_ident`` — the stable unique identifier the corruption never
    touches. The cheap 3-field pass cannot separate twins from
    sequential-name neighbors (both live in the same gamma cells, see
    q_cluster_repair); the ident field does, at the cost every real
    deployment pays for such a field (licensing, latency, PII handling),
    which is why it is consulted only for flagged clusters."""
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
        F.col("seg").alias("seg_a"),
        F.col("nation").alias("nation_a"),
        F.col("ident").alias("ident_a"),
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("seg").alias("seg_b"),
        F.col("nation").alias("nation_b"),
        F.col("ident").alias("ident_b"),
    )
    return pairs.join(ra, "id_a").join(rb, "id_b").select(
        "id_a",
        "id_b",
        (F.col("name_a") == F.col("name_b")).alias("agree_name"),
        (F.col("seg_a") == F.col("seg_b")).alias("agree_seg"),
        (F.col("nation_a") == F.col("nation_b")).alias("agree_nation"),
        (F.col("ident_a") == F.col("ident_b")).alias("agree_ident"),
        F.expr("pmod(id_a, 10000000) = pmod(id_b, 10000000)").alias(
            "is_match"
        ),
    )


_FIELDS4 = ["agree_name", "agree_seg", "agree_nation", "agree_ident"]

# 4-field FS chain (the escalation comparator): vec4 -> one4/w4 -> sc4,
# the same exact-bigint Laplace formulas as the 3-field w/sc chain
_SQL_STRONG4 = (
    "vec4 as (select p.id_a, p.id_b,"
    "   (ra.name = rb.name) as agree_name,"
    "   (ra.seg = rb.seg) as agree_seg,"
    "   (ra.nation = rb.nation) as agree_nation,"
    "   (ra.ident = rb.ident) as agree_ident,"
    "   ((p.id_a % 10000000) = (p.id_b % 10000000)) as is_match"
    "  from pairs p join ranked ra on ra.id = p.id_a"
    "               join ranked rb on rb.id = p.id_b), "
    "one4 as (select"
    "  sum(case when is_match then 1 else 0 end)::bigint as nm,"
    "  sum(case when not is_match then 1 else 0 end)::bigint as nn,"
    "  sum(case when is_match and agree_name then 1 else 0 end)::bigint as ma1,"
    "  sum(case when not is_match and agree_name then 1 else 0 end)::bigint as ua1,"
    "  sum(case when is_match and agree_seg then 1 else 0 end)::bigint as ma2,"
    "  sum(case when not is_match and agree_seg then 1 else 0 end)::bigint as ua2,"
    "  sum(case when is_match and agree_nation then 1 else 0 end)::bigint as ma3,"
    "  sum(case when not is_match and agree_nation then 1 else 0 end)::bigint as ua3,"
    "  sum(case when is_match and agree_ident then 1 else 0 end)::bigint as ma4,"
    "  sum(case when not is_match and agree_ident then 1 else 0 end)::bigint as ua4"
    " from vec4), "
    "w4 as (select f.field,"
    "  floor(1e6 * ln(((f.ma + 1) * (o.nn + 2))::double"
    "                 / ((f.ua + 1) * (o.nm + 2))::double))::bigint"
    "    as w_agree_micro,"
    "  floor(1e6 * ln((((o.nm + 2) - (f.ma + 1)) * (o.nn + 2))::double"
    "                 / (((o.nn + 2) - (f.ua + 1)) * (o.nm + 2))::double))::bigint"
    "    as w_disagree_micro"
    " from one4 o, (select unnest(['agree_name', 'agree_seg', 'agree_nation',"
    "                              'agree_ident']) as field,"
    "                      unnest([ma1, ma2, ma3, ma4]) as ma,"
    "                      unnest([ua1, ua2, ua3, ua4]) as ua from one4) f), "
    "long4 as (select id_a, id_b,"
    "  unnest(['agree_name', 'agree_seg', 'agree_nation', 'agree_ident'])"
    "    as field,"
    "  unnest([agree_name, agree_seg, agree_nation, agree_ident]) as agree"
    "  from vec4), "
    "sc4 as (select l.id_a, l.id_b,"
    "  sum(case when l.agree then w4.w_agree_micro"
    "      else w4.w_disagree_micro end)::bigint as score_micro"
    "  from long4 l join w4 using (field) group by 1, 2)"
)


def q_snm_candidate_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking (operators/linkage, Hernandez-Stolfo):
    candidate pairs within a 4-position window of the (key, name, id) sort
    order over clean ∪ dirty customers — global ranks from KEY-grain
    cumulative offsets + within-key row_number (no global window), pair
    generation a banded equi-join on rank div 3. Catches 100% of the
    planted adjacent-typo twins at every sf (measured), the property SNM
    buys over exact blocking."""
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    return sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)


SQL_SNM_CANDIDATE_PAIRS = (
    f"with {_SQL_LINKAGE_BASE} "
    "select id_a, id_b, rank_a, rank_b, dist from pairs"
)


def q_fs_match_weights(spark, sf_dir):
    """Fellegi-Sunter m/u estimation (operators/linkage.match_weights) from
    the SNM candidate pairs labeled by planted-twin identity: exact bigint
    count ratios with Laplace smoothing; agreement/disagreement weights are
    floor(1e6·ln(ratio-of-bigint-products)) — the single float step,
    margins measured ≥0.04 µ at every sf (oracle-robustness protocol).
    The name field demonstrates a CONFUSABLE field: bumped-typo collisions
    make exact-name agreement anti-predictive (w_agree < 0), which the FS
    estimator learns from counts alone."""
    from xlink_spark.operators.linkage import match_weights

    vec = _linkage_vectors(spark, sf_dir)
    return match_weights(vec, _LINKAGE_FIELDS, "is_match")


SQL_FS_MATCH_WEIGHTS = (
    f"with {_SQL_LINKAGE_VEC} "
    "select field, m_num, m_den, u_num, u_den, w_agree_micro,"
    " w_disagree_micro from w"
)


def q_fs_pair_scores(spark, sf_dir):
    """FS pairwise linkage scores (operators/linkage.fs_score): per-pair
    Σ of agreement/disagreement weights in exact bigint micro-units over
    the melted comparison vectors + broadcast weight table; decision at
    threshold 0 (min |score| ≈ 1e6 µ at every sf — the threshold can never
    flip cross-engine). Labels ride along for eval composition."""
    from xlink_spark.operators.linkage import fs_score, match_weights

    # vec fans out three ways (weight estimation, scoring melt, label
    # join-back); persist the narrow boolean rows once.
    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    return scores.join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    ).select(
        "id_a",
        "id_b",
        "score_micro",
        "is_match",
        (F.col("score_micro") >= 0).alias("decision"),
    )


_SQL_FS_SCORE_CORE = (
    "long as (select id_a, id_b,"
    "  unnest(['agree_name', 'agree_seg', 'agree_nation']) as field,"
    "  unnest([agree_name, agree_seg, agree_nation]) as agree from vec), "
    "sc as (select l.id_a, l.id_b,"
    "  sum(case when l.agree then w.w_agree_micro"
    "      else w.w_disagree_micro end)::bigint as score_micro"
    "  from long l join w using (field) group by 1, 2)"
)


SQL_FS_PAIR_SCORES = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE} "
    "select s.id_a, s.id_b, s.score_micro, v.is_match,"
    " (s.score_micro >= 0) as decision "
    "from sc s join vec v using (id_a, id_b)"
)


def q_coherence_iterate2(spark, sf_dir):
    """TWO rounds of collective linking (relatedness.coherence_iterate):
    round 2 rebuilds the pool from round 1's winners and rescores every
    candidate — the iterated-conditional-modes refinement, where a flip
    can CASCADE (pinned by unit test). Same all-bigint ranking key per
    round, so the fixed round count is engine-exact; the oracle unrolls
    both rounds as generated CTE chains over the same cand/rel tables."""
    from xlink_spark.operators.relatedness import (
        coherence_iterate,
        entity_relatedness,
    )

    res = q_detected_mentions(spark, sf_dir).filter(F.col("parse_from") == "ma")
    ma = q_mention_anchors(spark, sf_dir)
    maw = ma.withColumn("tot", F.sum("cnt").over(Window.partitionBy("mention")))
    cand = hold(
        res.join(F.broadcast(maw), res["surface"] == maw["mention"]).select(
            "doc_id",
            "start",
            "end",
            "entity_id",
            F.expr("(cnt * 1000000) div tot").cast("long").alias(
                "believe_micro"
            ),
        ),
        eager=True,
    )
    rnw = Window.partitionBy("doc_id", "start", "end").orderBy(
        F.col("believe_micro").desc(), F.col("entity_id").asc()
    )
    links = (
        cand.withColumn("_rn", F.row_number().over(rnw))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "entity_id")
    )
    rel = entity_relatedness(links, min_cooccur=2, materialize=True)
    return coherence_iterate(cand, rel, rounds=2, max_pool=5)


def _sql_rerank_round(t: int, pool_src: str) -> str:
    """One rerank round as CTE text: pool{t} capped at 5 from ``pool_src``
    (cols doc_id, p_start, p_end, p_entity, believe_micro), then
    paired{t}/scored{t}/win{t} over the shared cand/rel CTEs."""
    return (
        f"pool{t} as (select doc_id, p_start, p_end, p_entity from ("
        f"  select *, row_number() over (partition by doc_id"
        f"    order by believe_micro desc, p_start asc, p_end asc) as dr"
        f"  from {pool_src}) where dr <= 5), "
        f"paired{t} as (select c.doc_id, c.start, c.\"end\", c.entity_id,"
        f"  c.believe_micro, p.p_entity, r.rel_micro"
        f"  from cand c"
        f"  left join pool{t} p on p.doc_id = c.doc_id"
        f"    and (p.p_start <> c.start or p.p_end <> c.\"end\")"
        f"  left join rel r on r.entity_a = least(c.entity_id, p.p_entity)"
        f"    and r.entity_b = greatest(c.entity_id, p.p_entity)), "
        f"scored{t} as (select doc_id, start, \"end\", entity_id,"
        f"  believe_micro, count(p_entity)::bigint as pool_n,"
        f"  coalesce(sum(rel_micro), 0)::bigint as coherence_sum"
        f"  from paired{t} group by 1, 2, 3, 4, 5), "
        f"win{t} as (select doc_id, start, \"end\", entity_id,"
        f"  believe_micro, pool_n, coherence_sum, score from ("
        f"  select *, row_number() over (partition by doc_id, start, \"end\""
        f"    order by score desc, entity_id asc) as rn from ("
        f"    select *, (believe_micro * greatest(pool_n, 1)"
        f"      + coherence_sum)::bigint as score from scored{t}))"
        f"  where rn = 1)"
    )


SQL_COHERENCE_ITERATE2 = (
    f"with det as ({SQL_DETECTED_MENTIONS}), "
    "res as (select doc_id, start, \"end\", surface from det"
    " where parse_from = 'ma'), "
    f"ma as ({_MA_SQL}), "
    "tot as (select mention, sum(cnt)::bigint as tot from ma group by 1), "
    "cand as ("
    "  select r.doc_id, r.start, r.\"end\", m.entity_id,"
    "         (m.cnt * 1000000) // t.tot as believe_micro"
    "  from res r join ma m on m.mention = r.surface"
    "             join tot t on t.mention = r.surface), "
    "ln as ("
    "  select distinct doc_id, entity_id from ("
    "    select doc_id, entity_id, row_number() over ("
    "      partition by doc_id, start, \"end\""
    "      order by believe_micro desc, entity_id asc) as rn"
    "    from cand) where rn <= 3), "
    + _SQL_REL_CORE.format(min_cooccur=2).strip()
    + ", "
    "p1 as (select doc_id, start as p_start, \"end\" as p_end,"
    "  entity_id as p_entity, believe_micro from ("
    "  select *, row_number() over (partition by doc_id, start, \"end\""
    "    order by believe_micro desc, entity_id asc) as rn from cand)"
    "  where rn = 1), "
    + _sql_rerank_round(1, "p1")
    + ", "
    "p2 as (select doc_id, start as p_start, \"end\" as p_end,"
    "  entity_id as p_entity, believe_micro from win1), "
    + _sql_rerank_round(2, "p2")
    + " select doc_id, start, \"end\", entity_id, believe_micro, pool_n,"
    "  coherence_sum, score from win2"
)


def q_fs_threshold_sweep(spark, sf_dir):
    """Precision/recall/F1 at every distinct FS score
    (linkage.threshold_sweep over the labeled fs_pair_scores output) —
    the exact-integer curve that picks the decision threshold. FS scores
    take at most 2^k distinct values (one per agreement pattern), so the
    cumulative window runs at SCORE grain (≤ 8 rows), never over pairs."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        threshold_sweep,
    )

    # vec fans out three ways (weights, scoring melt, label join-back) —
    # the same fan-out q_fs_pair_scores persists for
    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"]).join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    )
    return threshold_sweep(scores, "score_micro", "is_match")


SQL_FS_THRESHOLD_SWEEP = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "lab as (select s.score_micro as score, v.is_match"
    "  from sc s join vec v using (id_a, id_b)), "
    "grain as (select score, count(*)::bigint as n_pairs,"
    "  sum(case when is_match then 1 else 0 end)::bigint as n_match"
    "  from lab group by 1), "
    "cum as (select score,"
    "  sum(n_match) over (order by score desc"
    "    rows between unbounded preceding and current row)::bigint as tp,"
    "  (sum(n_pairs) over (order by score desc"
    "    rows between unbounded preceding and current row)"
    "   - sum(n_match) over (order by score desc"
    "    rows between unbounded preceding and current row))::bigint as fp,"
    "  (select sum(n_match) from grain)::bigint as pos from grain) "
    "select score, tp, fp,"
    "  ((tp * 1000000) // (tp + fp))::bigint as precision_micro,"
    "  ((tp * 1000000) // pos)::bigint as recall_micro,"
    "  ((2 * tp * 1000000) // (2 * tp + fp + (pos - tp)))::bigint as f1_micro "
    "from cum"
)


def q_fs_u_frequencies(spark, sf_dir):
    """Label-free u-probabilities from value frequencies
    (linkage.u_from_frequencies): P(field agrees on a RANDOM pair) =
    Σ n_v(n_v−1)/(N(N−1)) — the estimate FS deployments pair with EM when
    candidate pairs are too biased to estimate u from. Exact bigint
    numerators/denominators + integer-ppm division over the clean∪dirty
    linkage records; one VALUE-grain count per field."""
    from xlink_spark.operators.linkage import u_from_frequencies

    recs = _linkage_records(spark, sf_dir).drop("key")
    return u_from_frequencies(recs, ["name", "seg", "nation"])


SQL_FS_U_FREQUENCIES = (
    f"with {_SQL_LINKAGE_BASE}, "
    "nn as (select count(*)::bigint as n from recs) "
    + " union all ".join(
        f"select '{f}' as field,"
        f"  coalesce(sum(c * (c - 1)), 0)::bigint as u_num,"
        f"  (select n * (n - 1) from nn)::bigint as u_den,"
        f"  ((coalesce(sum(c * (c - 1)), 0) * 1000000)"
        f"   // (select n * (n - 1) from nn))::bigint as u_ppm"
        f" from (select {f} as v, count(*)::bigint as c from recs group by 1)"
        for f in ["name", "seg", "nation"]
    )
)


def q_jw_pair_scores(spark, sf_dir):
    """Jaro-Winkler comparator over the SNM candidate pairs
    (fuzzy.jaro_winkler_micro): the canonical ER string metric, scored on
    BLOCKED pairs only (the comparator is the sanctioned Arrow boundary —
    one vectorized batch pass, never a cross product). The UDF replicates
    DuckDB's jaro_winkler_similarity bit-for-bit (boost threshold 0.7,
    prefix ≤ 4, p = 0.1, empty ⇒ 0 — fuzz-pinned over 30k pairs), so the
    micro-floor and the 0.88 near-match threshold land identically on
    both engines with no margin to measure."""
    from xlink_spark.operators.fuzzy import jaro_winkler_micro
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    na = recs.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    nb = recs.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            jaro_winkler_micro(F.col("name_a"), F.col("name_b")).alias(
                "jw_micro"
            ),
        )
        .withColumn("near", F.col("jw_micro") >= F.lit(880_000))
    )


SQL_JW_PAIR_SCORES = (
    f"with {_SQL_LINKAGE_BASE}, "
    "nm as (select p.id_a, p.id_b,"
    "  floor(1e6 * jaro_winkler_similarity(ra.name, rb.name))::bigint"
    "  as jw_micro"
    "  from pairs p join ranked ra on ra.id = p.id_a"
    "               join ranked rb on rb.id = p.id_b) "
    "select id_a, id_b, jw_micro, (jw_micro >= 880000) as near from nm"
)


def q_soft_tfidf_scores(spark, sf_dir):
    """Soft-TFIDF hybrid comparator (linkage.soft_tfidf_scores — Cohen,
    Ravikumar & Fienberg 2003, their experiments' best name matcher)
    over the SNM candidate pairs: TFIDF cosine where a token matches its
    best Jaro-Winkler partner ≥ 0.9 instead of requiring exact equality
    — so the planted last-char typo twins keep near-perfect scores while
    plain token-overlap TFIDF (q_tfidf_cosine_pairs) drops them. All
    arithmetic is the repo's exact-integer convention: milli-floored ln
    idf weights, EXACT bigint norms (the 10³ cancels in the unit vector,
    so no float rides a distributed SUM), the bit-exact integer
    jw_micro argmax, and per-term single-division micro floors summed as
    bigints — identical operation order on both engines."""
    from xlink_spark.operators.linkage import (
        soft_tfidf_scores,
        sorted_neighborhood_pairs,
    )

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(
        recs, "key", ["name"], "id", window=4
    ).select("id_a", "id_b")
    toks = (
        recs.select(
            "id",
            F.explode(F.split(F.lower("name"), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    return soft_tfidf_scores(pairs, toks)


SQL_SOFT_TFIDF_SCORES = (
    f"with {_SQL_LINKAGE_BASE}, "
    "tk as materialized (select distinct id, t as tok from ("
    "  select id, unnest(string_split_regex(lower(name), '[^a-z0-9]+'))"
    "    as t from recs) where t <> ''), "
    "nn as (select count(distinct id)::bigint as n from tk), "
    "dft as (select tok, count(distinct id)::bigint as df"
    "  from tk group by tok), "
    "w as materialized (select tk.id, tk.tok,"
    "  floor(1000.0 * ln(1.0 + cast(n as double) / cast(df as double)))"
    "    ::bigint as w_milli"
    "  from tk join dft using (tok), nn), "
    "nrm as materialized (select id,"
    "  sum(w_milli * w_milli)::bigint as norm2 from w group by id), "
    "cl as (select p.id_a, p.id_b, a.tok as tok_a, b.tok as tok_b,"
    "  a.w_milli as wa, b.w_milli as wb,"
    "  floor(1e6 * jaro_winkler_similarity(a.tok, b.tok))::bigint"
    "    as jw_micro"
    "  from pairs p join w a on a.id = p.id_a join w b on b.id = p.id_b"
    "  where floor(1e6 * jaro_winkler_similarity(a.tok, b.tok)) >= 900000), "
    "best as (select * from (select *, row_number() over ("
    "  partition by id_a, id_b, tok_a"
    "  order by jw_micro desc, tok_b asc) as rn from cl) where rn = 1), "
    "terms as (select b.id_a, b.id_b,"
    "  floor(cast(b.wa * b.wb * b.jw_micro as double)"
    "    / (sqrt(cast(na.norm2 as double)) * sqrt(cast(nb.norm2 as double))))"
    "    ::bigint as term_micro"
    "  from best b join nrm na on na.id = b.id_a"
    "  join nrm nb on nb.id = b.id_b), "
    "sc2 as (select id_a, id_b, count(*)::bigint as n_close,"
    "  sum(term_micro)::bigint as soft_tfidf_micro from terms group by 1, 2) "
    "select p.id_a, p.id_b, coalesce(s.n_close, 0)::bigint as n_close,"
    "  coalesce(s.soft_tfidf_micro, 0)::bigint as soft_tfidf_micro"
    " from pairs p left join sc2 s using (id_a, id_b)"
)


def q_pprl_dice_scores(spark, sf_dir):
    """Privacy-preserving linkage comparator (pprl.bloom_encode +
    bloom_dice_scores — Schnell, Bachteler & Reiher 2009) over the SNM
    candidate pairs: names are reduced to 256-bit Bloom filters of padded
    character bigrams (k=4 double-hashed md5 positions, the
    Kirsch-Mitzenmatcher h1+i·h2 convention) and pairs are scored by the
    DICE coefficient of the bitvectors — the linkage a deployment runs
    when identifiers cannot be exchanged in the clear. Everything is
    integer: md5 hex hashes (byte-identical cross-engine), bit_or'd
    64-bit words (the oracle builds them as hugeint power sums then
    two's-complement-converts, since DuckDB's bigint shift overflows at
    bit 63), AND-popcounts, and a floored parts-per-thousand Dice."""
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs
    from xlink_spark.operators.pprl import bloom_dice_scores, bloom_encode

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(
        recs, "key", ["name"], "id", window=4
    ).select("id_a", "id_b")
    # the encode chain (gram md5 + two distincts + the 4-word bit_or
    # pivot) feeds BOTH score sides; persist the tiny encoding table once
    enc = hold(bloom_encode(recs, "id", "name"))
    return bloom_dice_scores(pairs, enc)


# Shared CLK-encoding oracle core: expects a CTE ``pd(id, p)`` with the
# padded lowercase text; yields ``e2(id, w0..w3, nbits)``.
_SQL_CLK_CORE = (
    "gr as (select distinct id, g as gram from ("
    "  select id, unnest(list_transform(range(1, length(p)),"
    "    i -> substr(p, i::int, 2))) as g from pd)), "
    "hh as (select id,"
    "  ('0x' || substr(md5(gram), 1, 8))::bigint as h1,"
    "  ('0x' || substr(md5(gram), 9, 8))::bigint as h2 from gr), "
    "ps as materialized (select distinct id, pos from ("
    "  select id, unnest(list_transform(range(0, 4),"
    "    i -> (h1 + i * h2) % 256)) as pos from hh)), "
    # DuckDB's bigint << overflows at bit 63: build each word as a
    # hugeint sum of distinct powers, then two's-complement-convert
    "wv as (select id, wi,"
    "  (case when s >= 9223372036854775808::hugeint"
    "    then (s - 18446744073709551616::hugeint)::bigint"
    "    else s::bigint end) as w from ("
    "  select id, pos // 64 as wi,"
    "    sum(1::hugeint << (pos % 64)::int) as s"
    "  from ps group by 1, 2)), "
    "enc as materialized (select id,"
    "  coalesce(max(case when wi = 0 then w end), 0)::bigint as w0,"
    "  coalesce(max(case when wi = 1 then w end), 0)::bigint as w1,"
    "  coalesce(max(case when wi = 2 then w end), 0)::bigint as w2,"
    "  coalesce(max(case when wi = 3 then w end), 0)::bigint as w3"
    "  from wv group by id), "
    "nb as (select id, count(*)::bigint as nbits from ps group by id), "
    "e2 as materialized (select enc.id, w0, w1, w2, w3, nbits"
    "  from enc join nb using (id))"
)


SQL_PPRL_DICE_SCORES = (
    f"with {_SQL_LINKAGE_BASE}, "
    "pd as (select id, '_' || lower(name) || '_' as p from recs), "
    + _SQL_CLK_CORE
    + ", "
    "sc2 as (select p.id_a, p.id_b,"
    "  (bit_count(a.w0 & b.w0) + bit_count(a.w1 & b.w1)"
    "   + bit_count(a.w2 & b.w2) + bit_count(a.w3 & b.w3))::bigint"
    "    as common_bits,"
    "  a.nbits as nbits_a, b.nbits as nbits_b"
    "  from pairs p join e2 a on a.id = p.id_a"
    "  join e2 b on b.id = p.id_b) "
    "select id_a, id_b, common_bits, nbits_a, nbits_b,"
    "  (case when nbits_a + nbits_b > 0"
    "    then (2000 * common_bits) // (nbits_a + nbits_b)"
    "    else 0 end)::bigint as dice_ppt"
    " from sc2"
)


def q_pprl_hlsh_pairs(spark, sf_dir):
    """The COMPLETE privacy-preserving linkage pipeline (pprl.bloom_encode
    → pprl.hlsh_candidate_pairs → pprl.bloom_dice_scores): part records
    (clean ∪ bumped-first-word twins, the allpairs fixture corpus) are
    CLK-encoded, blocked by Hamming-LSH over the ENCODINGS (6 bands × 10
    md5-sampled bit positions — cleartext never drives the blocking), and
    candidates are verified at Dice ≥ 0.9 (keeps the last-char-bumped
    twins at ~0.93, drops same-template strangers) — the end-to-end
    shape a PPRL
    deployment runs at scale (narrow (id, band, bucket) projection +
    bucket equi-join, the simhash_near_pairs shape). All-integer
    arithmetic; the band positions are computed driver-side from stdlib
    md5, so both engines inline the SAME literals."""
    from xlink_spark.operators.pprl import (
        bloom_dice_scores,
        bloom_encode,
        hlsh_candidate_pairs,
    )

    part = spark.read.parquet(_T(sf_dir, "part")).filter(
        F.col("p_partkey") % 7 == 0
    )
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("name"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("w1"),
        F.col("p_type").alias("ty"),
        F.col("p_brand").alias("br"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(w1, 1, length(w1) - 1),"
            " char(ascii(substring(w1, length(w1), 1)) + 1),"
            " substring(name, length(w1) + 1))"
        ).alias("name"),
        "w1",
        "ty",
        "br",
    )
    recs = (
        base.unionByName(dirty)
        .select("id", F.concat_ws(" ", "name", "ty", "br").alias("text"))
        # 1-2 input splits: spread records across cores before the
        # gram-md5 encode scan (the flagship input idiom)
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )
    # the encode chain feeds four consumers (both HLSH bucket join sides
    # + both Dice score sides); unpersisted it re-executed per consumer —
    # persist the tiny encoding table once
    enc = hold(bloom_encode(recs, "id", "text"))
    cand = hlsh_candidate_pairs(enc)
    return bloom_dice_scores(cand, enc).filter(F.col("dice_ppt") >= 900)


def _hlsh_bands_sql() -> str:
    """Per-band bucket selects over ``e2`` with the SAME literal positions
    the Spark operator uses (pprl.hlsh_positions — stdlib md5)."""
    from xlink_spark.operators.pprl import hlsh_positions

    parts = []
    for b, plist in enumerate(hlsh_positions()):
        bits = " + ".join(
            f"(((w{p // 64} >> {p % 64}) & 1) << {j})"
            for j, p in enumerate(plist)
        )
        parts.append(
            f"select id, {b}::bigint as band, ({bits})::bigint as bucket"
            " from e2"
        )
    return " union all ".join(parts)


SQL_PPRL_HLSH_PAIRS = (
    "with base as (select p_partkey::bigint as id, p_name as name,"
    "  regexp_extract(p_name, '^[a-z]+', 0) as w1, p_type as ty,"
    "  p_brand as br from part where p_partkey % 7 = 0), "
    "dirty as (select id + 10000000 as id,"
    "  substr(w1, 1, length(w1) - 1)"
    "    || chr(ascii(substr(w1, length(w1), 1)) + 1)"
    "    || substr(name, length(w1) + 1) as name, w1, ty, br from base), "
    "recs2 as (select id, name || ' ' || ty || ' ' || br as text from base"
    "  union all select id, name || ' ' || ty || ' ' || br from dirty), "
    "pd as (select id, '_' || lower(text) || '_' as p from recs2), "
    + _SQL_CLK_CORE
    + ", "
    "bk as materialized (" + _hlsh_bands_sql() + "), "
    "cp as (select distinct a.id as id_a, b.id as id_b"
    "  from bk a join bk b on a.band = b.band and a.bucket = b.bucket"
    "  where a.id < b.id), "
    "sc2 as (select p.id_a, p.id_b,"
    "  (bit_count(a.w0 & b.w0) + bit_count(a.w1 & b.w1)"
    "   + bit_count(a.w2 & b.w2) + bit_count(a.w3 & b.w3))::bigint"
    "    as common_bits,"
    "  a.nbits as nbits_a, b.nbits as nbits_b"
    "  from cp p join e2 a on a.id = p.id_a"
    "  join e2 b on b.id = p.id_b) "
    "select * from (select id_a, id_b, common_bits, nbits_a, nbits_b,"
    "  (case when nbits_a + nbits_b > 0"
    "    then (2000 * common_bits) // (nbits_a + nbits_b)"
    "    else 0 end)::bigint as dice_ppt"
    " from sc2) where dice_ppt >= 900"
)


def q_fs_em_weights(spark, sf_dir):
    """UNSUPERVISED Fellegi-Sunter estimation (linkage.fs_em_weights,
    Winkler's EM over agreement patterns) on the SAME comparison vectors as
    fs_match_weights but with the labels withheld: the distributed step is
    one map-combinable count of the 2^3 agreement patterns; EM then runs
    on those 8 numbers driver-side (the Lloyd-quantizer division of
    labor), every float op evaluating the canonical expression text that
    the DuckDB oracle executes verbatim — the trajectory is bit-identical
    by construction (pinned by a parity test), so m/u/pi micro-floors are
    exact and only the final ln() weight floors carry float risk
    (margins measured ≥0.0088 µ across sf). EM recovers the planted
    structure blind: π̂ ≈ 0.06, the anti-predictive name field, and the
    seg/nation signal — the estimator a 10¹²-pair deployment runs when no
    labeled pairs exist."""
    from xlink_spark.operators.linkage import fs_em_weights

    vec = _linkage_vectors(spark, sf_dir).drop("is_match")
    return fs_em_weights(vec, _LINKAGE_FIELDS, iterations=5)


def _sql_fs_em() -> str:
    from xlink_spark.operators.linkage import em_oracle_sql

    return (
        f"with {_SQL_LINKAGE_VEC}, "
        + em_oracle_sql("vec", _LINKAGE_FIELDS, iterations=5)
    )


SQL_FS_EM_WEIGHTS = _sql_fs_em()


def q_er_golden_records(spark, sf_dir):
    """The COMPLETE record-side ER pipeline in one DAG — the north-star
    shape (blocking → pairwise scoring → transitive clustering) applied to
    records instead of mentions, plus the survivorship step a master-data
    deployment runs last: SNM blocking → Fellegi-Sunter pairwise scores →
    match edges at threshold 0 → iterative large/small-star connected
    components → one golden record per cluster (longest name, modal
    segment, min nation — each a deterministic total order). Over-merges
    from the anti-predictive name field survive into clusters exactly as
    FS decided — the oracle recomputes the whole causal chain (recursive-
    CTE closure included), so blocking, weighting, thresholding,
    clustering, and survivorship are all hash-checked together."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        fs_score,
        golden_records,
        match_weights,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).drop("key")
    return golden_records(
        recs,
        comp,
        "id",
        {"name": "longest", "seg": "mode", "nation": "min"},
    )


# The FS-edges → connected-components prefix shared by every query that
# replays the ER chain's clustering (golden records, pairwise F1). Full
# reachability closure, NOT the min-label walk CTE: the label-walk
# pattern under-merges on this graph (972 components where union-find
# says 669 — the twice-referenced recursive table loses propagation
# paths). Closure is O(sum of component size squared) rows — fine for
# ER-sized components — and provably complete. Must sit under an outer
# "with recursive".
_SQL_ER_CC_CORE = (
    "eg as (select id_a as src, id_b as dst from sc where score_micro >= 0), "
    "undirected as (select src, dst from eg union select dst, src from eg), "
    "walk (node, reach) as ("
    "  select src as node, dst as reach from undirected"
    "  union"
    "  select wk.node, u.dst as reach"
    "  from walk wk join undirected u on u.src = wk.reach"
    "  where u.dst <> wk.node), "
    "comp as (select node, least(node, min(reach)) as component"
    "  from walk group by node)"
)


SQL_ER_GOLDEN_RECORDS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select r.id, coalesce(c.component, r.id) as cluster"
    "  from recs r left join comp c on c.node = r.id), "
    "jj as (select a.cluster, r.name, r.seg, r.nation"
    "  from recs r join asg a on a.id = r.id), "
    "cnt as (select cluster, count(*)::bigint as n_records from jj group by 1), "
    "np as (select cluster, name from ("
    "  select cluster, name, row_number() over (partition by cluster"
    "    order by length(name) desc, name asc) as rn from jj) where rn = 1), "
    "sp as (select cluster, seg from ("
    "  select cluster, seg, row_number() over (partition by cluster"
    "    order by c desc, seg asc) as rn from ("
    "    select cluster, seg, count(*)::bigint as c from jj group by 1, 2))"
    "  where rn = 1), "
    "tp as (select cluster, min(nation) as nation from jj group by 1) "
    "select c.cluster, c.n_records, np.name, sp.seg, tp.nation "
    "from cnt c join np using (cluster) join sp using (cluster)"
    " join tp using (cluster)"
)



def q_fused_golden_values(spark, sf_dir):
    """Survivorship BY truth discovery — the composition that closes the
    loop between the ER chain and the fusion family: SNM blocking → FS
    scores → threshold edges → connected components gives the entity
    clusters; three reference sources (s0 clean, s1 bumping a third of
    records, s2 bumping a quarter — the _truth_claims corruption model
    keyed on MEMBER id, so twin members inject real within-cluster
    conflict) each assert a name per cluster member; two Sums iterations
    learn source trust from cross-cluster corroboration and the
    min-struct argmax picks one fused name per entity. Where
    `er_golden_records` survives attributes by syntactic rules (longest/
    mode/min), this row set survives them by SOURCE RELIABILITY — the
    fusion-stage alternative a master-data deployment graduates to. The
    oracle replays the whole causal chain: blocking, weighting,
    thresholding, the recursive-CTE closure, claim construction, both
    fixed-point iterations, and the tie-broken winner."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        fs_score,
        fused_values,
        match_weights,
        truth_discovery,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir)
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        "id",
        "name",
        F.coalesce(F.col("component"), F.col("id")).alias("obj"),
    )

    def bump(k):
        return (
            "concat(substring(name, 1, length(name) - 1), "
            f"char(ascii(substring(name, length(name), 1)) + {k}))"
        )

    a0 = asg.select("obj", F.lit("s0").alias("src"), F.col("name").alias("val"))
    a1 = asg.select(
        "obj",
        F.lit("s1").alias("src"),
        F.expr(f"case when pmod(id, 3) = 0 then {bump(1)} else name end").alias(
            "val"
        ),
    )
    a2 = asg.select(
        "obj",
        F.lit("s2").alias("src"),
        F.expr(f"case when pmod(id, 4) = 0 then {bump(2)} else name end").alias(
            "val"
        ),
    )
    claims = a0.unionByName(a1).unionByName(a2)
    conf = truth_discovery(claims, "obj", "src", "val", iterations=2)
    return fused_values(conf).select(
        F.col("obj").alias("cluster"), "val", "conf_ppt", "n_sources"
    )





def q_snm_multipass_pairs(spark, sf_dir):
    """Multi-pass sorted-neighborhood blocking (linkage.multipass_pairs) —
    Hernandez & Stolfo's full method: pass 1 sorts on the name-digit key,
    pass 2 on (segment | nation), candidate sets canonicalized to
    unordered pairs and merged with per-pair pass counts + min rank
    distance. Pass 2 recovers twin pairs whose name corruption would
    teleport them across pass 1's sort order (and vice versa); the merge
    is one pair-keyed aggregation over narrow rows."""
    from xlink_spark.operators.linkage import multipass_pairs

    recs = _linkage_records(spark, sf_dir).withColumn(
        "key2", F.expr("concat(seg, '|', cast(nation as string))")
    )
    return multipass_pairs(
        recs, [("key", ["name"]), ("key2", ["name"])], "id", window=4
    )


SQL_SNM_MULTIPASS_PAIRS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "ranked2 as (select *, row_number() over ("
    "  order by seg || '|' || nation::varchar, name, id)::bigint as rank"
    "  from recs), "
    "pairs2 as (select a.id as id_a, b.id as id_b,"
    "  (b.rank - a.rank)::bigint as dist"
    "  from ranked2 a join ranked2 b"
    "  on b.rank > a.rank and b.rank - a.rank <= 3), "
    "allp as ("
    "  select least(id_a, id_b) as id_a, greatest(id_a, id_b) as id_b, dist"
    "  from pairs"
    "  union all"
    "  select least(id_a, id_b) as id_a, greatest(id_a, id_b) as id_b, dist"
    "  from pairs2) "
    "select id_a, id_b, count(*)::bigint as n_passes,"
    " min(dist)::bigint as min_dist "
    "from allp group by 1, 2"
)


def q_fs_review_bands(spark, sf_dir):
    """The Fellegi-Sunter TWO-threshold decision rule (linkage.fs_decide)
    over the labeled FS pair scores: score ≥ 1.5e6 µ ⇒ match, < 0 ⇒
    non_match, between ⇒ possible — the clerical-review queue the 1969
    framework actually specifies. Scores and thresholds are exact bigint
    micro-units (band boundaries can never flip cross-engine); all three
    bands are non-empty at every sf (measured)."""
    from xlink_spark.operators.linkage import fs_decide, fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"]).join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    )
    return fs_decide(scores, upper_micro=1_500_000, lower_micro=0)


SQL_FS_REVIEW_BANDS = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE} "
    "select s.id_a, s.id_b, s.score_micro, v.is_match,"
    " case when s.score_micro >= 1500000 then 'match'"
    "      when s.score_micro < 0 then 'non_match'"
    "      else 'possible' end as decision "
    "from sc s join vec v using (id_a, id_b)"
)


def q_er_pairwise_f1(spark, sf_dir):
    """THE acceptance metric of the whole ER arc (linkage.pairwise_f1):
    pairwise precision/recall/F1 of the transitive clusters against the
    labeled pairs at the same blocking key — SNM blocking → FS scores →
    match edges → large/small-star connected components → did the
    clustering link the labeled pairs (and only them)? tp/fp/fn are exact
    bigint counts and every metric an exact integer floor, float-free end
    to end; the oracle replays the entire causal chain including the
    recursive reachability-closure CC, so this one row hash-checks
    blocking, weighting, thresholding, AND clustering together."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        pairwise_f1,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    asg = comp.select(
        F.col("node").alias("id"), F.col("component").alias("cluster")
    )
    return pairwise_f1(asg, vec)


SQL_ER_PAIRWISE_F1 = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "met as (select v.is_match,"
    "  (coalesce(ca.component, v.id_a) = coalesce(cb.component, v.id_b))"
    "    as same"
    "  from vec v left join comp ca on ca.node = v.id_a"
    "             left join comp cb on cb.node = v.id_b), "
    "agg as (select count(*)::bigint as n_pairs,"
    "  sum(case when same and is_match then 1 else 0 end)::bigint as tp,"
    "  sum(case when same and not is_match then 1 else 0 end)::bigint as fp,"
    "  sum(case when (not same) and is_match then 1 else 0 end)::bigint as fn"
    "  from met) "
    "select n_pairs, tp, fp, fn,"
    " (case when tp + fp > 0 then (tp * 1000000) // (tp + fp) end)::bigint"
    "   as precision_micro,"
    " (case when tp + fn > 0 then (tp * 1000000) // (tp + fn) end)::bigint"
    "   as recall_micro,"
    " (case when 2 * tp + fp + fn > 0"
    "   then (2 * tp * 1000000) // (2 * tp + fp + fn) end)::bigint"
    "   as f1_micro "
    "from agg"
)



# ----------------------------------------- comparator / cluster-metric arc


def q_edit_pair_scores(spark, sf_dir):
    """Normalized Levenshtein similarity (fuzzy.edit_similarity_micro) over
    the SNM candidate pairs — the scan-speed JVM edit comparator next to
    the Arrow JW one: floor(1e6·(1 − d/max_len)) where distance and
    lengths are exact ints and the one double division is correctly
    rounded, so the floor is bit-identical cross-engine (the oracle
    mirrors the expression verbatim; ASCII fixture — Spark counts code
    points, DuckDB bytes, identical here and pinned divergent by test)."""
    from xlink_spark.operators.fuzzy import edit_similarity_micro
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    na = recs.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"))
    nb = recs.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            edit_similarity_micro("name_a", "name_b").alias("edit_micro"),
        )
        .withColumn("near", F.col("edit_micro") >= F.lit(900_000))
    )


SQL_EDIT_PAIR_SCORES = (
    f"with {_SQL_LINKAGE_BASE}, "
    "nm as (select p.id_a, p.id_b,"
    "  floor(((greatest(length(ra.name), length(rb.name))"
    "          - levenshtein(ra.name, rb.name)) * 1000000.0)"
    "        / greatest(length(ra.name), length(rb.name)))::bigint"
    "  as edit_micro"
    "  from pairs p join ranked ra on ra.id = p.id_a"
    "               join ranked rb on rb.id = p.id_b) "
    "select id_a, id_b, edit_micro, (edit_micro >= 900000) as near from nm"
)


_ME_TOKENIZE = (
    "list_filter(string_split_regex("
    "regexp_replace(name, '(\\d{3})', '\\1 ', 'g'), '[# ]'), x -> x <> '')"
)


def _me_sql_direction(src: str, dst: str, out: str) -> str:
    return (
        f"tk{src} as (select id_a, id_b, tok, count(*)::bigint as cnt"
        f"  from (select id_a, id_b, unnest(t{src}) as tok from prs)"
        f"  group by 1, 2, 3), "
        f"fl{src} as (select id_a, id_b, unnest(t{dst}) as tok from prs), "
        f"best{src} as (select a.id_a, a.id_b, a.tok, a.cnt,"
        f"  max(floor(1e6 * jaro_winkler_similarity(a.tok, b.tok))::bigint)"
        f"    as best"
        f"  from tk{src} a join fl{src} b using (id_a, id_b)"
        f"  group by 1, 2, 3, 4), "
        f"me{src} as (select id_a, id_b,"
        f"  (sum(cnt * best) // sum(cnt))::bigint as {out}"
        f"  from best{src} group by 1, 2)"
    )


def q_monge_elkan_scores(spark, sf_dir):
    """Monge-Elkan hybrid comparator (fuzzy.monge_elkan_scores) over the
    SNM candidate pairs: names tokenized into the word + 3-digit groups
    (regexp_replace + split + filter — pure JVM), then per-token-instance
    best Jaro-Winkler, multiplicity-weighted and integer-averaged — exact
    bigint end to end on top of the bit-exact JW micro-floors, so no
    margin to measure. The canonical multi-word-field comparator (names,
    addresses) that single-string JW under-scores on token reorderings."""
    from xlink_spark.operators.fuzzy import monge_elkan_scores
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    toked = recs.select(
        "id",
        F.filter(
            F.split(
                F.regexp_replace(F.col("name"), r"(\d{3})", "$1 "), "[# ]"
            ),
            lambda x: x != "",
        ).alias("toks"),
    )
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    ta = toked.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"))
    tb = toked.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"))
    prs = pairs.select("id_a", "id_b").join(ta, "id_a").join(tb, "id_b")
    return monge_elkan_scores(prs, "ta", "tb", ["id_a", "id_b"])


SQL_MONGE_ELKAN_SCORES = (
    f"with {_SQL_LINKAGE_BASE}, "
    f"tk as (select id, {_ME_TOKENIZE} as toks from ranked), "
    "prs as (select p.id_a, p.id_b, a.toks as ta, b.toks as tb"
    "  from pairs p join tk a on a.id = p.id_a"
    "               join tk b on b.id = p.id_b), "
    + _me_sql_direction("a", "b", "me_ab_micro")
    + ", "
    + _me_sql_direction("b", "a", "me_ba_micro")
    + " "
    "select p.id_a, p.id_b, a.me_ab_micro, b.me_ba_micro,"
    " case when a.me_ab_micro is not null and b.me_ba_micro is not null"
    "   then ((a.me_ab_micro + b.me_ba_micro) // 2)::bigint end"
    "   as me_sym_micro "
    "from (select distinct id_a, id_b from prs) p"
    " left join mea a using (id_a, id_b)"
    " left join meb b using (id_a, id_b)"
)


def q_tfidf_cosine_pairs(spark, sf_dir):
    """IDF-weighted cosine self-join over character-trigram sets of the
    linkage names (setsim.tfidf_cosine_pairs) — the string-grouper near-dup
    scorer: rare trigrams dominate, head trigrams are purged by the
    RELATIVE df cap (df·10⁶ ≤ 10⁵·N — one exact bigint
    cross-multiplication, the scale-portable knob). Weights are bigint
    ln-floors (boundary margins measured 0.073 / 0.26 milli-units at the
    two oracle sfs — ~10¹⁰ × ulp noise; pinned by test); dot and norms are exact bigint sums; the final cosine is
    one cast-mult-sqrt-div double chain — correctly rounded IEEE ops on
    identical bigints, bit-identical cross-engine."""
    from xlink_spark.operators.setsim import tfidf_cosine_pairs

    recs = _linkage_records(spark, sf_dir)
    grams = recs.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(name) - 2),"
                " g -> substring(name, g, 3))"
            )
        ).alias("token"),
    ).distinct()
    return tfidf_cosine_pairs(
        grams, threshold_micro=350_000, id_col="id", max_df_ppm=100_000
    )


SQL_TFIDF_COSINE_PAIRS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "grams as (select distinct id, substr(name, g, 3) as token"
    "  from recs, unnest(generate_series(1, length(name) - 2)) as t(g)), "
    "nn as (select count(distinct id)::bigint as n from grams), "
    "dfc as (select token, count(*)::bigint as df from grams group by 1), "
    "idf as (select token,"
    "  floor(1000 * ln(n::double / df::double))::bigint as w"
    "  from dfc, nn where df * 1000000 <= 100000 * n), "
    "wt as (select g.id, g.token, i.w from grams g join idf i using (token)), "
    "nrm as (select id, sum(w * w)::bigint as n2 from wt group by 1), "
    "dt as (select a.id as doc_a, b.id as doc_b, sum(a.w * a.w)::bigint as dot"
    "  from wt a join wt b on a.token = b.token and a.id < b.id"
    "  group by 1, 2) "
    "select d.doc_a, d.doc_b, d.dot,"
    "  floor(1e6 * (d.dot::double / sqrt(na.n2::double * nb.n2::double)))"
    "    ::bigint as cos_micro "
    "from dt d join nrm na on na.id = d.doc_a join nrm nb on nb.id = d.doc_b "
    "where na.n2 > 0 and nb.n2 > 0 "
    "and floor(1e6 * (d.dot::double / sqrt(na.n2::double * nb.n2::double)))"
    "    >= 350000"
)


def q_meta_blocking_pairs(spark, sf_dir):
    """Meta-blocking (linkage.meta_blocking_pairs, Papadakis et al.) over
    THREE redundant blocking schemes on the linkage records — mid-digit
    key (twin-preserving), segment|nation, and tail-digit key (bump-
    sensitive): blocks purged above 100 members, within-block pairs
    weighted by common-block count, WEP keeps edges strictly above the
    mean weight via one bigint cross-multiplication against the broadcast
    edge total. Exact integers end to end — no margins."""
    from xlink_spark.operators.linkage import meta_blocking_pairs

    recs = _linkage_records(spark, sf_dir)
    mem = (
        recs.select(
            "id",
            F.concat(F.lit("a:"), F.expr("substring(name, 13, 5)")).alias(
                "block"
            ),
        )
        .unionByName(
            recs.select(
                "id",
                F.concat_ws(
                    "|", F.lit("b:"), F.col("seg"), F.col("nation")
                ).alias("block"),
            )
        )
        .unionByName(
            recs.select(
                "id",
                F.concat(F.lit("c:"), F.expr("substring(name, 15, 4)")).alias(
                    "block"
                ),
            )
        )
    )
    return meta_blocking_pairs(mem, max_block_size=100, prune="wep")


SQL_META_BLOCKING_PAIRS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "mem as ("
    "  select id, 'a:' || substr(name, 13, 5) as block from recs"
    "  union all"
    "  select id, 'b:' || '|' || seg || '|' || nation::varchar from recs"
    "  union all"
    "  select id, 'c:' || substr(name, 15, 4) from recs), "
    "kept as (select block from mem group by block"
    "  having count(*) <= 100), "
    "km as (select m.id, m.block from mem m join kept k using (block)), "
    "cbs as (select a.id as id_a, b.id as id_b, count(*)::bigint as cbs"
    "  from km a join km b on a.block = b.block and a.id < b.id"
    "  group by 1, 2), "
    "tot as (select count(*)::bigint as ne,"
    "  coalesce(sum(cbs), 0)::bigint as sw from cbs) "
    "select id_a, id_b, cbs from cbs, tot where cbs * ne > sw"
)


def q_meta_blocking_wnp(spark, sf_dir):
    """Node-centric meta-blocking (linkage.meta_blocking_pairs with
    prune='wnp' — Papadakis et al.'s weighted node pruning) over the SAME
    three redundant schemes as meta_blocking_pairs: an edge survives when
    it beats the mean CBS weight of EITHER endpoint's adjacency, so a
    locally-best pair survives even when the global mean (WEP's bar)
    would drop it. Same exact-bigint cross-multiplication discipline, now
    against two narrow per-node aggregate joins. Measured property of
    THIS corpus (checked at three scales): the CBS distribution is
    bimodal (twins 2-3 common blocks, digit-noise 1) with every mean in
    (1, 2), so the two families keep IDENTICAL sets here — the oracle
    row verifies the node-centric implementation itself, while the
    regimes where they genuinely part (heterogeneous adjacencies keeping
    local heads; single-edge nodes, which WNP always drops because an
    only edge never strictly beats its own mean) are pinned by the
    brute-parity unit tests."""
    from xlink_spark.operators.linkage import meta_blocking_pairs

    recs = _linkage_records(spark, sf_dir)
    mem = (
        recs.select(
            "id",
            F.concat(F.lit("a:"), F.expr("substring(name, 13, 5)")).alias(
                "block"
            ),
        )
        .unionByName(
            recs.select(
                "id",
                F.concat_ws(
                    "|", F.lit("b:"), F.col("seg"), F.col("nation")
                ).alias("block"),
            )
        )
        .unionByName(
            recs.select(
                "id",
                F.concat(F.lit("c:"), F.expr("substring(name, 15, 4)")).alias(
                    "block"
                ),
            )
        )
    )
    return meta_blocking_pairs(mem, max_block_size=100, prune="wnp")


SQL_META_BLOCKING_WNP = (
    f"with {_SQL_LINKAGE_BASE}, "
    "mem as ("
    "  select id, 'a:' || substr(name, 13, 5) as block from recs"
    "  union all"
    "  select id, 'b:' || '|' || seg || '|' || nation::varchar from recs"
    "  union all"
    "  select id, 'c:' || substr(name, 15, 4) from recs), "
    "kept as (select block from mem group by block"
    "  having count(*) <= 100), "
    "km as (select m.id, m.block from mem m join kept k using (block)), "
    "cbs as (select a.id as id_a, b.id as id_b, count(*)::bigint as cbs"
    "  from km a join km b on a.block = b.block and a.id < b.id"
    "  group by 1, 2), "
    "nod as (select id_a as n, cbs from cbs"
    "  union all select id_b as n, cbs from cbs), "
    "st as (select n, count(*)::bigint as ne,"
    "  sum(cbs)::bigint as sw from nod group by 1) "
    "select c.id_a, c.id_b, c.cbs from cbs c"
    "  join st sa on sa.n = c.id_a join st sb on sb.n = c.id_b"
    "  where c.cbs * sa.ne > sa.sw or c.cbs * sb.ne > sb.sw"
)


def q_clustering_ari(spark, sf_dir):
    """Adjusted Rand Index (eval/bcubed.adjusted_rand) of the full ER
    chain's transitive clusters against the planted-twin gold partition —
    the chance-corrected ALL-pairs cluster gauge completing pairwise F1
    (labeled pairs only) and B³ (item-averaged). The oracle replays
    blocking → FS weights → scores → recursive-CTE connected components →
    the contingency moments, so this one row hash-checks the whole causal
    chain plus the metric. Exact bigint rational (ari_num/ari_den) plus
    ONE double division of exact bigints — bit-identical cross-engine."""
    from xlink_spark.eval.bcubed import adjusted_rand
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("id")).alias("pred"),
        F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
    )
    return adjusted_rand(asg)


SQL_CLUSTERING_ARI = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select coalesce(c.component, r.id) as pred,"
    "  r.id % 10000000 as gold"
    "  from recs r left join comp c on c.node = r.id), "
    "cells as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
    "    as sum_ij, sum(n_)::bigint as n"
    "  from (select count(*)::bigint as n_ from asg group by pred, gold)), "
    "ra as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint as sum_a"
    "  from (select count(*)::bigint as n_ from asg group by pred)), "
    "rb as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint as sum_b"
    "  from (select count(*)::bigint as n_ from asg group by gold)), "
    "base as (select n, sum_ij, sum_a, sum_b,"
    "  ((n * (n - 1)) // 2)::bigint as c2 from cells, ra, rb) "
    "select n, sum_ij, sum_a, sum_b, c2,"
    " (2 * (c2 * sum_ij - sum_a * sum_b))::bigint as ari_num,"
    " (c2 * (sum_a + sum_b) - 2 * sum_a * sum_b)::bigint as ari_den,"
    " case when (c2 * (sum_a + sum_b) - 2 * sum_a * sum_b) <> 0"
    "   then (2 * (c2 * sum_ij - sum_a * sum_b))::double"
    "        / (c2 * (sum_a + sum_b) - 2 * sum_a * sum_b)::double"
    " end as ari "
    "from base"
)


def q_phonetic_blocks(spark, sf_dir):
    """Phonetic blocking (linkage.phonetic_candidate_pairs) with a compound
    Soundex key over the first two words of part names, clean ∪ a
    bumped-last-letter dirty copy: within-class bumps ('almond'→'almone',
    D and nothing both vanish from the code) keep colliding while
    class-crossing bumps split — the recall/precision trade the phonetic
    family buys, pinned by the is_twin flag riding every pair. Blocks
    above 32 members are purged pre-join (the meta-blocking purge). Pure
    translate/regexp string ops end to end — no floats, no margins; the
    Soundex pipeline itself is cross-engine-pinned by test against the
    classic published vectors (Ashcraft→A261, Pfister→P236, Tymczak→T522).
    """
    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    part = spark.read.parquet(_T(sf_dir, "part"))
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("w1"),
        F.regexp_extract("p_name", "^[a-z]+ ([a-z]+)", 1).alias("w2"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(w1, 1, length(w1) - 1),"
            " char(ascii(substring(w1, length(w1), 1)) + 1))"
        ).alias("w1"),
        F.col("w2"),
    )
    recs = base.unionByName(dirty)
    pairs = phonetic_candidate_pairs(
        recs, ["w1", "w2"], "id", max_block_size=32
    )
    return pairs.select(
        "id_a",
        "id_b",
        "pkey",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


def _sql_phonetic_blocks() -> str:
    from xlink_spark.operators.fuzzy import soundex_sql

    return (
        "with base as (select p_partkey::bigint as id,"
        "  regexp_extract(p_name, '^[a-z]+', 0) as w1,"
        "  regexp_extract(p_name, '^[a-z]+ ([a-z]+)', 1) as w2 from part), "
        "dirty as (select id + 10000000 as id,"
        "  substr(w1, 1, length(w1) - 1)"
        "    || chr(ascii(substr(w1, length(w1), 1)) + 1) as w1, w2"
        "  from base), "
        "recs as (select * from base union all select * from dirty), "
        f"keyed as (select id, {soundex_sql('w1')} || {soundex_sql('w2')}"
        "  as pkey from recs), "
        "kept as (select pkey from keyed group by pkey"
        "  having count(*) <= 32), "
        "km as (select k.id, k.pkey from keyed k join kept using (pkey)) "
        "select a.id as id_a, b.id as id_b, a.pkey,"
        "  (a.id % 10000000) = (b.id % 10000000) as is_twin "
        "from km a join km b on a.pkey = b.pkey and a.id < b.id"
    )


SQL_PHONETIC_BLOCKS = _sql_phonetic_blocks()


def q_nysiis_blocks(spark, sf_dir):
    """NYSIIS phonetic blocking (linkage.phonetic_candidate_pairs with
    scheme='nysiis' — Taft 1970, the literature's standard companion to
    Soundex) over the same clean ∪ bumped-last-letter part-name corpus as
    `phonetic_blocks`, so the two schemes are directly comparable on
    identical records: NYSIIS keeps collapsed vowel POSITIONS, so it
    splits name shapes Soundex folds together (finer blocks, stricter
    recall on tail bumps — measured by the riding is_twin flag). The key
    is a global-rewrite formulation of the classic rule set — one fixed
    regexp/translate chain rendered identically on both engines (no UDF,
    no per-position scan), pinned against the published vectors
    (MACINTOSH→MCANT, KNUTH→NAT, PFEISTER→FASTAR) and fuzz-checked
    against a procedural reference on 120k random words. Blocks above 32
    members are purged pre-join (the meta-blocking purge). Pure string
    ops end to end — no floats, no margins."""
    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    part = spark.read.parquet(_T(sf_dir, "part"))
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("w1"),
        F.regexp_extract("p_name", "^[a-z]+ ([a-z]+)", 1).alias("w2"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(w1, 1, length(w1) - 1),"
            " char(ascii(substring(w1, length(w1), 1)) + 1))"
        ).alias("w1"),
        F.col("w2"),
    )
    recs = base.unionByName(dirty)
    pairs = phonetic_candidate_pairs(
        recs, ["w1", "w2"], "id", max_block_size=32, scheme="nysiis"
    )
    return pairs.select(
        "id_a",
        "id_b",
        "pkey",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


def _sql_nysiis_blocks() -> str:
    from xlink_spark.operators.fuzzy import nysiis_sql

    return (
        "with base as (select p_partkey::bigint as id,"
        "  regexp_extract(p_name, '^[a-z]+', 0) as w1,"
        "  regexp_extract(p_name, '^[a-z]+ ([a-z]+)', 1) as w2 from part), "
        "dirty as (select id + 10000000 as id,"
        "  substr(w1, 1, length(w1) - 1)"
        "    || chr(ascii(substr(w1, length(w1), 1)) + 1) as w1, w2"
        "  from base), "
        "recs as (select * from base union all select * from dirty), "
        f"keyed as (select id, {nysiis_sql('w1')} || {nysiis_sql('w2')}"
        "  as pkey from recs), "
        "kept as (select pkey from keyed group by pkey"
        "  having count(*) <= 32), "
        "km as (select k.id, k.pkey from keyed k join kept using (pkey)) "
        "select a.id as id_a, b.id as id_b, a.pkey,"
        "  (a.id % 10000000) = (b.id % 10000000) as is_twin "
        "from km a join km b on a.pkey = b.pkey and a.id < b.id"
    )


SQL_NYSIIS_BLOCKS = _sql_nysiis_blocks()


def q_caverphone_blocks(spark, sf_dir):
    """Caverphone 2.0 phonetic blocking (linkage.phonetic_candidate_pairs
    with scheme='caverphone' — Hood 2004, the Caversham Project's
    electoral-roll-tuned scheme and Christen 2006's third benchmark next
    to Soundex and NYSIIS) over the same clean ∪ bumped-last-letter
    part-name corpus as `phonetic_blocks` / `nysiis_blocks`, so all
    three schemes are directly comparable on identical records:
    Caverphone's 10-char padded keys keep the most context of the trio
    (vowel markers survive the consonant rules; gh/ough/wh clusters get
    dedicated rewrites), giving the finest blocks and the strictest
    recall on tail bumps (measured by the riding is_twin flag). Unlike
    Soundex/NYSIIS, the published algorithm IS an ordered replacement
    list, so the dual-engine rewrite chain is the spec verbatim —
    pinned against the published vectors (Peter→PTA1111111,
    Stevenson→STFNSN1111=Stephenson, Thompson→TMPSN11111) and
    fuzz-checked against an independently-coded procedural reference.
    Blocks above 32 members are purged pre-join (the meta-blocking
    purge). Pure string ops end to end — no floats, no margins."""
    from xlink_spark.operators.linkage import phonetic_candidate_pairs

    part = spark.read.parquet(_T(sf_dir, "part"))
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("w1"),
        F.regexp_extract("p_name", "^[a-z]+ ([a-z]+)", 1).alias("w2"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(w1, 1, length(w1) - 1),"
            " char(ascii(substring(w1, length(w1), 1)) + 1))"
        ).alias("w1"),
        F.col("w2"),
    )
    recs = base.unionByName(dirty)
    pairs = phonetic_candidate_pairs(
        recs, ["w1", "w2"], "id", max_block_size=32, scheme="caverphone"
    )
    return pairs.select(
        "id_a",
        "id_b",
        "pkey",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


def _sql_caverphone_blocks() -> str:
    from xlink_spark.operators.fuzzy import caverphone_sql

    return (
        "with base as (select p_partkey::bigint as id,"
        "  regexp_extract(p_name, '^[a-z]+', 0) as w1,"
        "  regexp_extract(p_name, '^[a-z]+ ([a-z]+)', 1) as w2 from part), "
        "dirty as (select id + 10000000 as id,"
        "  substr(w1, 1, length(w1) - 1)"
        "    || chr(ascii(substr(w1, length(w1), 1)) + 1) as w1, w2"
        "  from base), "
        "recs as (select * from base union all select * from dirty), "
        f"keyed as (select id, {caverphone_sql('w1')} || {caverphone_sql('w2')}"
        "  as pkey from recs), "
        "kept as (select pkey from keyed group by pkey"
        "  having count(*) <= 32), "
        "km as (select k.id, k.pkey from keyed k join kept using (pkey)) "
        "select a.id as id_a, b.id as id_b, a.pkey,"
        "  (a.id % 10000000) = (b.id % 10000000) as is_twin "
        "from km a join km b on a.pkey = b.pkey and a.id < b.id"
    )


SQL_CAVERPHONE_BLOCKS = _sql_caverphone_blocks()


def q_clustering_muc(spark, sf_dir):
    """MUC link-based P/R/F1 (eval/bcubed.muc, Vilain et al. 1995) of the
    full ER chain's transitive clusters against the planted-twin gold
    partition — the fifth cluster gauge next to pairwise F1 / B³ / ARI /
    V-measure: MUC counts correct MERGE DECISIONS (minimum spanning links)
    and is blind to correctly isolated singletons, the complementary bias
    to B³'s item-averaging. The oracle replays blocking → FS weights →
    scores → recursive-CTE connected components → the Vilain counts, so
    this one row hash-checks the whole causal chain plus the metric. Pure
    bigint counts and integer micro-divisions — no floats anywhere, exact
    on any engine."""
    from xlink_spark.eval.bcubed import muc
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("id")).alias("pred"),
        F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
    )
    return muc(asg)


SQL_CLUSTERING_MUC = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select coalesce(c.component, r.id) as pred,"
    "  r.id % 10000000 as gold"
    "  from recs r left join comp c on c.node = r.id), "
    "cells as (select pred, gold, count(*)::bigint as n_pg"
    "  from asg group by pred, gold), "
    "by_g as (select gold, sum(n_pg)::bigint as n_g,"
    "  count(*)::bigint as parts_g from cells group by gold), "
    "by_p as (select pred, sum(n_pg)::bigint as n_p,"
    "  count(*)::bigint as parts_p from cells group by pred), "
    "rs as (select coalesce(sum(n_g), 0)::bigint as n_items,"
    "  coalesce(sum(n_g - parts_g), 0)::bigint as muc_r_num,"
    "  coalesce(sum(n_g - 1), 0)::bigint as muc_r_den from by_g), "
    "ps as (select coalesce(sum(n_p - parts_p), 0)::bigint as muc_p_num,"
    "  coalesce(sum(n_p - 1), 0)::bigint as muc_p_den from by_p), "
    "m as (select n_items, muc_r_num, muc_r_den, muc_p_num, muc_p_den,"
    "  (case when muc_p_den > 0 then (muc_p_num * 1000000) // muc_p_den"
    "    else 1000000 end)::bigint as muc_p_micro,"
    "  (case when muc_r_den > 0 then (muc_r_num * 1000000) // muc_r_den"
    "    else 1000000 end)::bigint as muc_r_micro"
    "  from rs, ps) "
    "select *, (case when muc_p_micro + muc_r_micro > 0"
    "  then (2 * muc_p_micro * muc_r_micro) // (muc_p_micro + muc_r_micro)"
    "  else 0 end)::bigint as muc_f_micro from m"
)


def q_clustering_blanc(spark, sf_dir):
    """BLANC (eval/bcubed.blanc, Recasens & Hovy 2011) of the full ER
    chain's transitive clusters against the planted-twin gold partition —
    the sixth cluster gauge, the bilateral Rand adaptation: an F1 over
    coreference LINKS and an F1 over NON-links, averaged, so over-merging
    and over-splitting are penalized symmetrically where MUC ignores
    singletons and raw Rand saturates on them. Same causal chain as
    `clustering_muc` (blocking → FS weights → scores → recursive-CTE
    connected components), so the one output row hash-checks the chain
    plus all four pair-class counts (rc/rn from the ARI contingency
    moments — no pair materialized) and every floor-micro division.
    Pure bigint arithmetic end to end — no floats anywhere."""
    from xlink_spark.eval.bcubed import blanc
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("id")).alias("pred"),
        F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
    )
    return blanc(asg)


SQL_CLUSTERING_BLANC = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select coalesce(c.component, r.id) as pred,"
    "  r.id % 10000000 as gold"
    "  from recs r left join comp c on c.node = r.id), "
    "cells as (select pred, gold, count(*)::bigint as n_pg"
    "  from asg group by pred, gold), "
    "mom as (select coalesce(sum((n_pg * (n_pg - 1)) // 2), 0)::bigint as rc,"
    "  coalesce(sum(n_pg), 0)::bigint as n from cells), "
    "ra as (select coalesce(sum((np * (np - 1)) // 2), 0)::bigint as links_pred"
    "  from (select sum(n_pg)::bigint as np from cells group by pred)), "
    "rb as (select coalesce(sum((ng * (ng - 1)) // 2), 0)::bigint as links_gold"
    "  from (select sum(n_pg)::bigint as ng from cells group by gold)), "
    "b1 as (select n, rc, links_pred, links_gold,"
    "  ((n * (n - 1)) // 2)::bigint as c2 from mom, ra, rb), "
    "b2 as (select *,"
    "  (c2 - links_pred - links_gold + rc)::bigint as rn from b1), "
    "b3 as (select *,"
    "  (case when links_pred > 0 then rc * 1000000 // links_pred"
    "    else 0 end)::bigint as blanc_pc_micro,"
    "  (case when links_gold > 0 then rc * 1000000 // links_gold"
    "    else 0 end)::bigint as blanc_rc_micro,"
    "  (case when c2 - links_pred > 0"
    "    then rn * 1000000 // (c2 - links_pred)"
    "    else 0 end)::bigint as blanc_pn_micro,"
    "  (case when c2 - links_gold > 0"
    "    then rn * 1000000 // (c2 - links_gold)"
    "    else 0 end)::bigint as blanc_rn_micro"
    "  from b2), "
    "b4 as (select *,"
    "  (case when blanc_pc_micro + blanc_rc_micro > 0"
    "    then 2 * blanc_pc_micro * blanc_rc_micro"
    "      // (blanc_pc_micro + blanc_rc_micro)"
    "    else 0 end)::bigint as blanc_fc_micro,"
    "  (case when blanc_pn_micro + blanc_rn_micro > 0"
    "    then 2 * blanc_pn_micro * blanc_rn_micro"
    "      // (blanc_pn_micro + blanc_rn_micro)"
    "    else 0 end)::bigint as blanc_fn_micro"
    "  from b3) "
    "select *, (case"
    "  when links_pred + links_gold = 0 then blanc_fn_micro"
    "  when (c2 - links_pred) + (c2 - links_gold) = 0 then blanc_fc_micro"
    "  else (blanc_fc_micro + blanc_fn_micro) // 2 end)::bigint"
    "  as blanc_micro from b4"
)


def q_clustering_ceaf(spark, sf_dir):
    """CEAF_m / CEAF_e (eval/ceaf.ceaf, Luo EMNLP 2005) of the full ER
    chain's transitive clusters against the planted-twin gold partition —
    the seventh cluster gauge, completing the canonical coreference
    quartet (MUC / B³ / CEAF / BLANC): score only the OPTIMAL one-to-one
    key↔response cluster alignment, so a response cluster cannot farm
    credit across many keys (B³'s inflation) and shattering earns nothing
    twice (MUC's blind spot). Same causal chain as `clustering_muc`
    (blocking → FS weights → scores → recursive-CTE connected
    components); the Spark side solves the assignment problem with a
    per-bipartite-component subset-DP over response bitmasks, the oracle
    enumerates every injective matching per component in a recursive CTE
    — both maximize the identical integer objective (φ3 = overlap counts;
    φ4 = the documented sum-of-floors micro weights), whose maximum is
    unique even when the argmax alignment is not. Pure bigint arithmetic
    end to end — no floats anywhere."""
    from xlink_spark.eval.ceaf import ceaf
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("id")).alias("pred"),
        F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
    )
    return ceaf(asg)


# Shared CEAF oracle core (asg → contingency → bipartite components →
# injective-matching enumeration → φ totals); consumed by
# SQL_CLUSTERING_CEAF and SQL_CLUSTERING_CONLL below.
_SQL_CEAF_CORE = (
    # every multiply-referenced CTE below is MATERIALIZED: DuckDB inlines
    # plain CTEs per reference, and re-inlining the recursive walk chains
    # multiplicatively is an OOM (observed at sf0.001)
    "asg as materialized ("
    "  select coalesce(c.component, r.id) as pred,"
    "  r.id % 10000000 as gold"
    "  from recs r left join comp c on c.node = r.id), "
    "cells as materialized ("
    "  select pred, gold, count(*)::bigint as n_pg"
    "  from asg group by pred, gold), "
    "bp as (select pred, sum(n_pg)::bigint as n_p from cells group by pred), "
    "bg as (select gold, sum(n_pg)::bigint as n_g from cells group by gold), "
    "wc as materialized ("
    "  select c.pred, c.gold, c.n_pg::bigint as w3,"
    "  ((2 * c.n_pg * 1000000) // (bp.n_p + bg.n_g))::bigint as w4"
    "  from cells c join bp using (pred) join bg using (gold)), "
    # bipartite overlap components at cluster grain (2·pred / 2·gold+1)
    "bu as materialized ("
    "  select pred * 2 as src, gold * 2 + 1 as dst from wc"
    "  union select gold * 2 + 1 as src, pred * 2 as dst from wc), "
    "bwalk (node, reach) as ("
    "  select src as node, dst as reach from bu"
    "  union"
    "  select wk.node, u.dst as reach"
    "  from bwalk wk join bu u on u.src = wk.reach"
    "  where u.dst <> wk.node), "
    "bcmp as (select node, least(node, min(reach)) as component"
    "  from bwalk group by node), "
    # gold clusters -> dense levels, response clusters -> mask bits
    "rk as materialized ("
    "  select b.component,"
    "  (dense_rank() over (partition by b.component order by w.gold)"
    "    - 1)::bigint as gi,"
    "  (dense_rank() over (partition by b.component order by w.pred)"
    "    - 1)::bigint as pbit,"
    "  w.w3, w.w4"
    "  from wc w join bcmp b on b.node = w.pred * 2), "
    "kgs as materialized ("
    "  select component, max(gi) as kg from rk group by component), "
    # one sentinel skip row (pbit -1) per (component, level)
    "opts as materialized ("
    "  select component, gi, pbit, w3, w4 from rk"
    "  union all"
    "  select distinct component, gi, (-1)::bigint as pbit,"
    "    0::bigint as w3, 0::bigint as w4 from rk), "
    # enumerate every injective matching: exponential semantics the
    # Spark subset-DP reproduces; exact because both maximize the same
    # integer path sums
    "dpw (component, gi, mask, s3, s4) as ("
    "  select component, (-1)::bigint, 0::bigint, 0::bigint, 0::bigint"
    "  from kgs"
    "  union all"
    "  select d.component, o.gi,"
    "    case when o.pbit < 0 then d.mask"
    "      else d.mask | (1::bigint << o.pbit) end,"
    "    d.s3 + o.w3, d.s4 + o.w4"
    "  from dpw d join opts o on o.component = d.component"
    "    and o.gi = d.gi + 1"
    "  where o.pbit < 0 or (d.mask & (1::bigint << o.pbit)) = 0), "
    "per as (select d.component, max(d.s3)::bigint as b3,"
    "  max(d.s4)::bigint as b4"
    "  from dpw d join kgs k using (component)"
    "  where d.gi = k.kg group by d.component), "
    "tot as (select coalesce(sum(b3), 0)::bigint as phi3_total,"
    "  coalesce(sum(b4), 0)::bigint as phi4_micro_total from per)"
)


SQL_CLUSTERING_CEAF = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    + _SQL_CEAF_CORE
    + ", "
    "cnts as (select (select count(*) from asg)::bigint as n_items,"
    "  (select count(distinct pred) from asg)::bigint as n_pred_clusters,"
    "  (select count(distinct gold) from asg)::bigint as n_gold_clusters), "
    "fin as (select n_items, n_pred_clusters, n_gold_clusters,"
    "  phi3_total, phi4_micro_total,"
    "  (case when n_items > 0 then (phi3_total * 1000000) // n_items"
    "    else 1000000 end)::bigint as ceafm_p_micro,"
    "  (case when n_items > 0 then (phi3_total * 1000000) // n_items"
    "    else 1000000 end)::bigint as ceafm_r_micro,"
    "  (case when n_pred_clusters > 0"
    "    then phi4_micro_total // n_pred_clusters"
    "    else 1000000 end)::bigint as ceafe_p_micro,"
    "  (case when n_gold_clusters > 0"
    "    then phi4_micro_total // n_gold_clusters"
    "    else 1000000 end)::bigint as ceafe_r_micro"
    "  from cnts, tot) "
    "select *,"
    "  (case when ceafm_p_micro + ceafm_r_micro > 0"
    "    then (2 * ceafm_p_micro * ceafm_r_micro)"
    "      // (ceafm_p_micro + ceafm_r_micro)"
    "    else 0 end)::bigint as ceafm_f_micro,"
    "  (case when ceafe_p_micro + ceafe_r_micro > 0"
    "    then (2 * ceafe_p_micro * ceafe_r_micro)"
    "      // (ceafe_p_micro + ceafe_r_micro)"
    "    else 0 end)::bigint as ceafe_f_micro"
    " from fin"
)


def q_clustering_conll(spark, sf_dir):
    """The CoNLL-2012 official coreference score (Pradhan et al. 2012) of
    the full ER chain — the unweighted mean of MUC F1, B³ F1, and CEAF_e
    F1, the single headline number the coreference/ER literature reports
    — over the same causal chain as `clustering_muc`/`clustering_ceaf`
    (blocking → FS weights → scores → recursive-CTE connected
    components). The three component gauges run over ONE persisted
    assignment table; the oracle recomputes all three from one
    materialized contingency table inside a single recursive query, so
    this one row hash-checks the chain plus every component F and the
    exact integer mean (floor of the bigint sum over 3). Pure bigint
    arithmetic end to end — no floats anywhere."""
    from xlink_spark.eval.bcubed import bcubed, muc
    from xlink_spark.eval.ceaf import ceaf
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = hold(
        recs.join(
            comp.select(F.col("node").alias("id"), "component"), "id", "left"
        ).select(
            F.coalesce(F.col("component"), F.col("id")).alias("pred"),
            F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
        ),
        eager=True,
    )
    b = bcubed(asg).select("n_items", "bcubed_f_micro")
    m = muc(asg).select("muc_f_micro")
    c = ceaf(asg).select("ceafe_f_micro")
    return (
        b.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(c))
        .select(
            "*",
            F.expr(
                "(bcubed_f_micro + muc_f_micro + ceafe_f_micro) div 3"
            )
            .cast("long")
            .alias("conll_f_micro"),
        )
    )


SQL_CLUSTERING_CONLL = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    + _SQL_CEAF_CORE
    + ", "
    # B³ over the same materialized contingency (sum-of-floors micro)
    "b3a as (select coalesce(sum(n_pg), 0)::bigint as n_items,"
    "  coalesce(sum((n_pg * n_pg * 1000000) // bp.n_p), 0)::bigint as psum,"
    "  coalesce(sum((n_pg * n_pg * 1000000) // bg.n_g), 0)::bigint as rsum"
    "  from cells c join bp using (pred) join bg using (gold)), "
    "b3b as (select n_items,"
    "  (case when n_items > 0 then psum // n_items"
    "    else 1000000 end)::bigint as bp_micro,"
    "  (case when n_items > 0 then rsum // n_items"
    "    else 1000000 end)::bigint as br_micro from b3a), "
    "b3f as (select n_items,"
    "  (case when bp_micro + br_micro > 0"
    "    then (2 * bp_micro * br_micro) // (bp_micro + br_micro)"
    "    else 0 end)::bigint as bcubed_f_micro from b3b), "
    # MUC over the same contingency (Vilain link counts)
    "mg as (select gold, sum(n_pg)::bigint as n_g,"
    "  count(*)::bigint as parts_g from cells group by gold), "
    "mp as (select pred, sum(n_pg)::bigint as n_p,"
    "  count(*)::bigint as parts_p from cells group by pred), "
    "mr as (select coalesce(sum(n_g - parts_g), 0)::bigint as r_num,"
    "  coalesce(sum(n_g - 1), 0)::bigint as r_den from mg), "
    "mq as (select coalesce(sum(n_p - parts_p), 0)::bigint as p_num,"
    "  coalesce(sum(n_p - 1), 0)::bigint as p_den from mp), "
    "mf as (select (case when pm + rm > 0"
    "    then (2 * pm * rm) // (pm + rm) else 0 end)::bigint as muc_f_micro"
    "  from (select"
    "    (case when p_den > 0 then (p_num * 1000000) // p_den"
    "      else 1000000 end)::bigint as pm,"
    "    (case when r_den > 0 then (r_num * 1000000) // r_den"
    "      else 1000000 end)::bigint as rm from mr, mq)), "
    # CEAF_e from the shared alignment totals
    "cf as (select (case when cp + cr > 0"
    "    then (2 * cp * cr) // (cp + cr) else 0 end)::bigint"
    "    as ceafe_f_micro"
    "  from (select"
    "    (case when npc > 0 then phi4_micro_total // npc"
    "      else 1000000 end)::bigint as cp,"
    "    (case when ngc > 0 then phi4_micro_total // ngc"
    "      else 1000000 end)::bigint as cr"
    "    from tot,"
    "    (select count(distinct pred)::bigint as npc,"
    "      count(distinct gold)::bigint as ngc from asg))) "
    "select n_items, bcubed_f_micro, muc_f_micro, ceafe_f_micro,"
    "  ((bcubed_f_micro + muc_f_micro + ceafe_f_micro) // 3)::bigint"
    "  as conll_f_micro"
    " from b3f, mf, cf"
)


def q_star_clusters(spark, sf_dir):
    """Star clustering (cluster.star_clusters, Aslam/Pelekhov/Rus 2004)
    of the ER chain's match edges — the classic alternative to transitive
    closure that CANNOT chain-merge: every satellite is exactly one hop
    from its center (cluster diameter ≤ 2), so one wrong edge contaminates
    one star instead of welding two entities. K=3 rounds of parallel
    local order-key maxima over static full-graph degrees (the unique
    bigint key deg·10⁸ − node makes ties engine-exact); leftovers become
    flagged singletons at round 4. Same blocking → FS weights → scores
    chain as the CC queries, so the rows hash-check the chain plus every
    round's center election, satellite attachment, and the key
    encode/decode arithmetic."""
    from xlink_spark.operators.cluster import star_clusters
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return star_clusters(edges, rounds=3)


def _star_rounds_sql(rounds: int, base: int = 100000000) -> str:
    """Unrolled K-round star-cover SQL over the keyed adjacency ``ka0``
    (a, b, k, kb) — the coherence_iterate2 unroll precedent. Emits CTEs
    d1..dK (per-round assignments) and ``allr``; the caller supplies ka0
    and the kt key table and appends the leftover-singleton select."""
    blocks = []
    for i in range(1, rounds + 1):
        prev = f"ka{i - 1}"
        blocks.append(
            f"nm{i} as (select a, k, max(kb) as mk from {prev}"
            f"  group by a, k), "
            f"c{i} as materialized (select a from nm{i} where k > mk), "
            f"s{i} as materialized ("
            f"  select t.a,"
            f"  ((t.mx + {base} - 1) // {base} * {base} - t.mx)::bigint"
            f"    as center"
            f"  from (select e.a, max(e.kb) as mx"
            f"    from {prev} e join c{i} cb on cb.a = e.b"
            f"    left join c{i} ca on ca.a = e.a"
            f"    where ca.a is null group by e.a) t), "
            f"d{i} as materialized ("
            f"  select a, a::bigint as center, {i}::int as round from c{i}"
            f"  union all"
            f"  select a, center, {i}::int as round from s{i}), "
            f"ka{i} as materialized ("
            f"  select e.* from {prev} e"
            f"  left join d{i} da on da.a = e.a"
            f"  left join d{i} db on db.a = e.b"
            f"  where da.a is null and db.a is null), "
        )
    unions = " union all ".join(f"select * from d{i}" for i in range(1, rounds + 1))
    blocks.append(f"allr as materialized ({unions})")
    return "".join(blocks)


SQL_STAR_CLUSTERS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    "eg as (select id_a as src, id_b as dst from sc where score_micro >= 0), "
    "adj as materialized (select src as a, dst as b from"
    "  (select src, dst from eg union select dst, src from eg)), "
    "dg as (select a, count(*)::bigint as deg from adj group by a), "
    "kt as materialized (select a,"
    "  (deg * 100000000 - a)::bigint as k from dg), "
    "ka0 as materialized (select e.a, e.b, x.k, y.k as kb"
    "  from adj e join kt x on x.a = e.a"
    "  join kt y on y.a = e.b), "
    + _star_rounds_sql(3)
    + ", "
    "rest as (select kt.a, kt.a::bigint as center, 4::int as round"
    "  from kt left join allr r on r.a = kt.a where r.a is null) "
    "select a::bigint as node, center, round from"
    " (select * from allr union all select * from rest)"
)


def q_center_clusters(spark, sf_dir):
    """CENTER clustering (cluster.center_clusters, Hassanzadeh & Miller
    2009) of the ER chain's match edges — similarity-ordered stars: the
    strongest edges elect centers first, centers persist across rounds
    and keep absorbing satellites, and like star clustering a wrong edge
    contaminates one star instead of chain-welding two entities. K=3
    deterministic rounds of per-node best-edge elections under the unique
    lexicographic edge key (−score_micro, src, dst); leftovers become
    flagged singletons at round 4. Same blocking → FS weights → scores
    chain as the star/CC queries, so the rows hash-check the chain plus
    every round's mutual-best firing, center attachment, and tie-break."""
    from xlink_spark.operators.cluster import center_clusters
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "score_micro",
    )
    return center_clusters(edges, rounds=3)


def q_merge_center_clusters(spark, sf_dir):
    """MERGE-CENTER (cluster.merge_center_clusters, Hassanzadeh & Miller
    2009): the CENTER assignment above plus cluster merges whenever a
    record's match edge reaches the CENTER of a different cluster — the
    documented middle ground between star-shaped CENTER and full
    transitive closure. The merge graph runs through the iterative
    large/small-star CC job, so the oracle's recursive min-propagation
    walk hash-checks the unrolled CENTER rounds AND the component ids of
    the center graph in one row set (node, center, cluster, round)."""
    from xlink_spark.operators.cluster import merge_center_clusters
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        "score_micro",
    )
    return merge_center_clusters(edges, rounds=3)


def _center_rounds_sql(rounds: int) -> str:
    """Unrolled K-round CENTER SQL over the scored adjacency ``e0``
    (n, m, negs, cs, cd) and the empty center seed ``c0`` — the
    _star_rounds_sql precedent with edge-similarity keys and persistent
    centers. Emits per-round CTEs bn/at/fr/d/c/s/e and ``allr``."""
    blocks = []
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(
            f"bn{i} as materialized ("
            f"  select n, case when bcs = n then bcd else bcs end as partner,"
            f"    bcs, bcd from ("
            f"    select e.n, e.cs as bcs, e.cd as bcd,"
            f"      row_number() over (partition by e.n"
            f"        order by e.negs, e.cs, e.cd) as rn"
            f"    from e{p} e left join c{p} cc on cc.node = e.n"
            f"    where cc.node is null) t"
            f"  where rn = 1), "
            f"at{i} as materialized ("
            f"  select b.n as node, b.partner as center from bn{i} b"
            f"  join c{p} cc on cc.node = b.partner), "
            f"fr{i} as materialized ("
            f"  select b.bcs, b.bcd from bn{i} b"
            f"  left join c{p} cc on cc.node = b.partner"
            f"  where cc.node is null"
            f"  group by b.bcs, b.bcd having count(*) = 2), "
            f"d{i} as materialized ("
            f"  select node, center, {i}::int as round from at{i}"
            f"  union all select bcd, bcs, {i}::int from fr{i}"
            f"  union all select bcs, bcs, {i}::int from fr{i}), "
            f"c{i} as materialized ("
            f"  select node from c{p} union all select bcs from fr{i}), "
            f"s{i} as materialized ("
            f"  select node from at{i} union all select bcd as node from fr{i}), "
            f"e{i} as materialized ("
            f"  select e.n, e.m, e.negs, e.cs, e.cd from e{p} e"
            f"  left join s{i} sa on sa.node = e.n"
            f"  left join s{i} sb on sb.node = e.m"
            f"  left join c{i} ca on ca.node = e.n"
            f"  left join c{i} cb on cb.node = e.m"
            f"  where sa.node is null and sb.node is null"
            f"    and (ca.node is null or cb.node is null)), "
        )
    unions = " union all ".join(f"select * from d{i}" for i in range(1, rounds + 1))
    blocks.append(f"allr as materialized ({unions})")
    return "".join(blocks)


def _minprop_rounds_sql(rounds: int) -> str:
    """Unrolled min-label connected components over the undirected edge
    CTE ``mu`` (src, dst): w0 seeds each node with the min of itself and
    its neighbors; every later round takes the min over (own label,
    neighbors' labels, label-of-label — pointer jumping), so labels
    converge to the component minimum in O(log component-size) rounds.
    Emits w0..w{rounds}; unrolled because a DuckDB recursive CTE's
    recursive term joins only the previous DELTA, which stalls
    transitive min propagation on chain graphs."""
    blocks = [
        "w0 as materialized (select src as node,"
        "  least(src, min(dst)) as comp from mu group by src), "
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(
            f"w{i} as materialized (select node, min(comp) as comp from ("
            f"  select node, comp from w{p}"
            f"  union all"
            f"  select u.src as node, w.comp from mu u"
            f"    join w{p} w on w.node = u.dst"
            f"  union all"
            f"  select w.node, w2.comp from w{p} w"
            f"    join w{p} w2 on w2.node = w.comp"
            f") group by node), "
        )
    return "".join(blocks)


_SQL_CENTER_SETUP = (
    "eg as (select id_a as src, id_b as dst, score_micro from sc"
    "  where score_micro >= 0), "
    "cnn as materialized (select least(src, dst) as cs,"
    "  greatest(src, dst) as cd, max(score_micro) as s"
    "  from eg where src <> dst group by 1, 2), "
    # under WITH RECURSIVE, DuckDB drops the dedup of a CTE-top-level
    # UNION (treats the CTE as recursive) — keep the union in a subquery
    "nodes as materialized (select a from"
    "  (select cs as a from cnn union select cd from cnn)), "
    "e0 as materialized ("
    "  select cs as n, cd as m, -s as negs, cs, cd from cnn"
    "  union all select cd, cs, -s, cs, cd from cnn), "
    "c0 as (select 0::bigint as node where 1 = 0), "
)

SQL_CENTER_CLUSTERS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_CENTER_SETUP
    + _center_rounds_sql(3)
    + ", "
    "rest as (select a as node, a as center, 4::int as round from nodes"
    "  left join allr r on r.node = nodes.a where r.node is null) "
    "select node::bigint as node, center::bigint as center, round from"
    " (select * from allr union all select * from rest)"
)

SQL_MERGE_CENTER_CLUSTERS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_CENTER_SETUP
    + _center_rounds_sql(3)
    + ", "
    "rest as (select a as node, a as center, 4::int as round from nodes"
    "  left join allr r on r.node = nodes.a where r.node is null), "
    "asg as materialized ("
    "  select * from allr union all select * from rest), "
    # merge evidence only points at rounds<=K centers: leftovers merge
    # INTO real clusters but never attract merges (sequential fidelity)
    "cents as materialized (select node from asg"
    "  where node = center and round <= 3), "
    "und as (select cs as x, cd as y from cnn"
    "  union all select cd, cs from cnn), "
    "meg as materialized ("
    "  select distinct ax.center as src, u.y as dst"
    "  from und u join asg ax on ax.node = u.x"
    "  join cents c on c.node = u.y"
    "  where ax.center <> u.y), "
    "mu as (select src, dst from"
    "  (select src, dst from meg union select dst, src from meg)), "
    # a DuckDB recursive CTE's recursive term sees only the PREVIOUS
    # iteration's delta rows, so the classic neighbor-min walk stalls on
    # chains — unroll pointer-jumping + neighbor propagation instead
    # (log-depth convergence; 12 rounds cover components of 2^12 nodes)
    + _minprop_rounds_sql(12)
    + "mcomp as (select node, comp as component from w12) "
    "select a.node::bigint as node, a.center::bigint as center,"
    "  coalesce(m.component, a.center)::bigint as cluster, a.round "
    "from asg a left join mcomp m on m.node = a.center"
)



def q_pivot_clusters(spark, sf_dir):
    """Pivot / KwikCluster correlation clustering
    (cluster.pivot_clusters, Ailon-Charikar-Newman 2008 via the
    parallel LFMIS rounds of Chierichetti-Dalvi-Kumar 2014) of the ER
    chain's match edges — the permutation-ordered sibling of the
    star/center covers: pivots are the lexicographically-first maximal
    independent set of the match graph, every satellite joins its
    SMALLEST adjacent pivot, clusters have diameter <= 2 and never
    chain-merge, and the output is provably identical to sequential
    id-order KwikCluster. K=3 MIS rounds; nodes neither elected nor
    dominated in time become flagged singletons at round 4. Same
    blocking -> FS weights -> scores chain as the star/CC queries, so
    the rows hash-check the chain plus every round's minima election,
    domination, and the final min-pivot assignment."""
    from xlink_spark.operators.cluster import pivot_clusters
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return pivot_clusters(edges, rounds=3)


def _pivot_rounds_sql(rounds: int) -> str:
    """Unrolled K-round parallel-greedy-MIS SQL over the pool ``p0`` and
    symmetric adjacency ``ka0`` (a, b): round i elects pool-local id
    minima (isolated pool nodes elect trivially), removes elected +
    dominated nodes from the pool, and restricts the edge list — the
    _star_rounds_sql precedent. Emits c1..cK and ``allp``."""
    blocks = []
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(
            f"nm{i} as (select a, min(b) as mn from ka{p} group by a), "
            f"c{i} as materialized ("
            f"  select p.a, {i}::int as round from p{p} p"
            f"  left join nm{i} m on m.a = p.a"
            f"  where m.mn is null or p.a < m.mn), "
            f"dm{i} as materialized ("
            f"  select distinct e.a from ka{p} e"
            f"  join c{i} c on c.a = e.b), "
            f"p{i} as materialized ("
            f"  select p.a from p{p} p"
            f"  left join c{i} c on c.a = p.a"
            f"  left join dm{i} d on d.a = p.a"
            f"  where c.a is null and d.a is null), "
            f"ka{i} as materialized ("
            f"  select e.a, e.b from ka{p} e"
            f"  join p{i} x on x.a = e.a"
            f"  join p{i} y on y.a = e.b), "
        )
    unions = " union all ".join(
        f"select * from c{i}" for i in range(1, rounds + 1)
    )
    blocks.append(f"allp as materialized ({unions})")
    return "".join(blocks)


SQL_PIVOT_CLUSTERS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    "eg as (select id_a as src, id_b as dst from sc where score_micro >= 0), "
    "adj as materialized (select src as a, dst as b from"
    "  (select src, dst from eg union select dst, src from eg)), "
    "pnodes as materialized (select distinct a from adj), "
    "p0 as materialized (select a from pnodes), "
    "ka0 as materialized (select a, b from adj), "
    + _pivot_rounds_sql(3)
    + ", "
    "cents as (select a as node, a as cluster, round from allp), "
    "sats as (select t.a as node, t.cluster, t.round from ("
    "  select e.a, e.b as cluster, p.round,"
    "    row_number() over (partition by e.a order by e.b) as rn"
    "  from adj e join allp p on p.a = e.b"
    "  left join allp q on q.a = e.a"
    "  where q.a is null) t where rn = 1), "
    "rest as (select n.a as node, n.a as cluster, 4::int as round"
    "  from pnodes n"
    "  left join cents c on c.node = n.a"
    "  left join sats s on s.node = n.a"
    "  where c.node is null and s.node is null) "
    "select node::bigint as node, cluster::bigint as cluster, round from"
    " (select * from cents union all select * from sats"
    "  union all select * from rest)"
)


def q_one_to_one_matches(spark, sf_dir):
    """Iterated one-to-one assignment (linkage.one_to_one_matches,
    Preis 1999 / Manne-Bisseling 2007 locally-dominant matching) over
    the FS-scored clean-vs-dirty candidate pairs: the linkage corpus is
    two internally-duplicate-free sources (clean customers and their
    corrupted twins), the canonical clean-clean setting where each side
    may match AT MOST once. K=3 rounds of mutual-best-then-remove equal
    the sequential best-first greedy matching under the total order
    (score desc, right asc, left asc); each row carries its acceptance
    round. The oracle unrolls the same window/anti-join rounds, so the
    hash checks the FS chain, the cross-source normalization, and every
    round's dominance decision."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        one_to_one_matches,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    cross = scores.filter(
        ((F.col("id_a") < 10000000) != (F.col("id_b") < 10000000))
        & (F.col("score_micro") >= 0)
    ).select(
        F.when(F.col("id_a") < 10000000, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("left_id"),
        F.when(F.col("id_a") < 10000000, F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("right_id"),
        "score_micro",
    )
    return one_to_one_matches(
        cross, "left_id", "right_id", "score_micro", rounds=3
    )


def _one_to_one_rounds_sql(rounds: int) -> str:
    """Unrolled K-round locally-dominant matching SQL over the pair
    table ``g0`` (l, r, s): per round, two row_number windows pick the
    mutual-best pairs, two anti-joins remove the matched sides. Emits
    m1..mK and ``allm``."""
    blocks = []
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(
            f"m{i} as materialized ("
            f"  select l, r, s, {i}::int as round from ("
            f"    select l, r, s,"
            f"      row_number() over (partition by l"
            f"        order by s desc, r) as rna,"
            f"      row_number() over (partition by r"
            f"        order by s desc, l) as rnb"
            f"    from g{p}) t where rna = 1 and rnb = 1), "
            f"g{i} as materialized ("
            f"  select p.l, p.r, p.s from g{p} p"
            f"  left join m{i} a on a.l = p.l"
            f"  left join m{i} b on b.r = p.r"
            f"  where a.l is null and b.r is null), "
        )
    unions = " union all ".join(
        f"select * from m{i}" for i in range(1, rounds + 1)
    )
    blocks.append(f"allm as materialized ({unions})")
    return "".join(blocks)


SQL_ONE_TO_ONE_MATCHES = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    "cross0 as (select"
    "  case when id_a < 10000000 then id_a else id_b end as l,"
    "  case when id_a < 10000000 then id_b else id_a end as r,"
    "  score_micro as s"
    "  from sc where ((id_a < 10000000) <> (id_b < 10000000))"
    "    and score_micro >= 0), "
    "g0 as materialized (select l, r, max(s) as s from cross0"
    "  group by 1, 2), "
    + _one_to_one_rounds_sql(3)
    + " "
    "select l::bigint as left_id, r::bigint as right_id,"
    " s::bigint as score_micro, round from allm"
)


def q_canopy_clusters(spark, sf_dir):
    """Canopy pre-blocking (cluster.canopy_clusters, McCallum-Nigam-
    Ungar KDD 2000) over the allpairs part corpus with the paper's
    canonical CHEAP metric — inverted-index shared-token counts: every
    record pair sharing >= loose(2) tokens is canopy-eligible, pairs
    sharing >= tight(3) are consumed by the first canopy that sees
    them, and records may sit in SEVERAL canopies (the overlap that
    preserves recall when the expensive comparator later runs only
    inside canopies). K=3 deterministic id-order rounds; leftover pool
    records become flagged singleton canopies at round 4; the node
    universe is the full record table so token-isolated records
    surface as singletons instead of vanishing. The oracle replays the
    token explode, the shared-count self-join, and every round's
    center election / membership / tight-removal, so the hash checks
    the whole chain."""
    from xlink_spark.operators.cluster import canopy_clusters

    toks = _allpairs_fixture(spark, sf_dir)
    tk = toks.select(
        "id", F.explode(F.array_distinct("toks")).alias("tok")
    ).distinct()
    pairs = (
        tk.alias("x")
        .join(
            tk.alias("y"),
            (F.col("x.tok") == F.col("y.tok"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("sim"))
    )
    nodes = toks.select(F.col("id").alias("a"))
    return canopy_clusters(
        pairs, "sim", loose=2, tight=3, rounds=3, nodes=nodes
    )


def _canopy_rounds_sql(rounds: int, tight: int) -> str:
    """Unrolled K-round canopy SQL over the pool ``p0`` and loose edge
    list ``ka0`` (a, b, sim): round i elects pool-local id minima,
    emits membership rows for every pool node within loose of a new
    center, removes centers plus tight-neighbors from the pool, and
    restricts the edge list. Emits mm1..mmK and leaves p{K} for the
    leftover select."""
    blocks = []
    for i in range(1, rounds + 1):
        p = i - 1
        blocks.append(
            f"nm{i} as (select a, min(b) as mn from ka{p} group by a), "
            f"c{i} as materialized ("
            f"  select p.a from p{p} p"
            f"  left join nm{i} m on m.a = p.a"
            f"  where m.mn is null or p.a < m.mn), "
            f"mm{i} as materialized ("
            f"  select e.a, e.b as canopy, {i}::int as round"
            f"  from ka{p} e join c{i} c on c.a = e.b"
            f"  union all select a, a as canopy, {i}::int from c{i}), "
            f"rm{i} as materialized (select distinct a from ("
            f"  select e.a from ka{p} e join c{i} c on c.a = e.b"
            f"    where e.sim >= {tight}"
            f"  union all select a from c{i})), "
            f"p{i} as materialized ("
            f"  select p.a from p{p} p"
            f"  left join rm{i} r on r.a = p.a where r.a is null), "
            f"ka{i} as materialized ("
            f"  select e.a, e.b, e.sim from ka{p} e"
            f"  join p{i} x on x.a = e.a"
            f"  join p{i} y on y.a = e.b), "
        )
    unions = " union all ".join(
        f"select * from mm{i}" for i in range(1, rounds + 1)
    )
    blocks.append(f"allmm as materialized ({unions})")
    return "".join(blocks)


SQL_CANOPY_CLUSTERS = (
    "with base as (select p_partkey::bigint as id, p_name as name,"
    "  regexp_extract(p_name, '^[a-z]+', 0) as w1, p_type as ty,"
    "  p_brand as br from part"
    "  where p_partkey % 3 = 0), "
    "dirty as (select id + 10000000 as id,"
    "  substr(w1, 1, length(w1) - 1)"
    "    || chr(ascii(substr(w1, length(w1), 1)) + 1)"
    "    || substr(name, length(w1) + 1) as name, ty, br"
    "  from base), "
    "recs as (select id, name || ' ' || ty || ' ' || br as name"
    "  from (select id, name, ty, br from base"
    "        union all select * from dirty)), "
    "tk as (select distinct id, unnest(string_split(name, ' ')) as tok"
    "  from recs), "
    "sp as (select x.id as a, y.id as b, count(*)::bigint as sim"
    "  from tk x join tk y on y.tok = x.tok and y.id <> x.id"
    "  group by 1, 2), "
    "ka0 as materialized (select a, b, sim from sp where sim >= 2), "
    "pnodes as materialized (select distinct id as a from recs), "
    "p0 as materialized (select a from pnodes), "
    + _canopy_rounds_sql(3, 3)
    + ", "
    "rest as (select a, a as canopy, 4::int as round from p3) "
    "select a::bigint as node, canopy::bigint as canopy, round from"
    " (select * from allmm union all select * from rest)"
)



def q_canopy_blocking_metrics(spark, sf_dir):
    """Canopy clustering AS a measured blocking scheme on the hostile
    (ID-like) linkage corpus — the frontier companion to
    `canopy_clusters`' word-token part corpus. The cheap metric is
    inverted-index shared rare 4-grams (df <= 50 — the gauge family's
    stop-gram cap); on ID-like names the rare grams cluster around the
    distinctive digit tail and a twin pair shares exactly ONE of them,
    so loose=1 / tight=2. The measured result is the canopy guarantee
    doing its job: twin coverage lands EXACTLY on the loose-graph
    ceiling (every twin pair the cheap metric connects at all ends up
    sharing a canopy — 130/150 at sf0.001, 1350/1500 at sf0.01; the
    residual misses are pairs with ZERO shared rare grams, a cheap-
    metric limit no canopy parameter can recover) while cutting
    comparisons 93-99% vs C(n,2). Comparisons are the DISTINCT pairs
    sharing >= 1 canopy — overlap means a plain sum-of-C(n_b,2) would
    double-count, the structural difference from every disjoint-block
    scheme in `er_blocking_compare`. Output row is schema-compatible
    with that gauge (scheme, comps, twins_covered, twins_total,
    recall_ppm, rr_ppm)."""
    from xlink_spark.operators.cluster import canopy_clusters

    recs = _linkage_records(spark, sf_dir)
    tot = recs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("id") < 10000000, 1).otherwise(0))
        .cast("long")
        .alias("twins_total"),
    )
    qg = recs.select(
        "id",
        F.explode(
            F.when(
                F.length("name") >= 4,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length("name") - F.lit(3)),
                        lambda i: F.col("name").substr(i, F.lit(4)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    over = (
        qg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 50)
        .select("g")
    )
    km = qg.join(F.broadcast(over), "g", "left_anti")
    sims = (
        km.alias("x")
        .join(
            km.alias("y"),
            (F.col("y.g") == F.col("x.g")) & (F.col("x.id") < F.col("y.id")),
        )
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("sim"))
    )
    nodes = recs.select(F.col("id").alias("a"))
    mem = canopy_clusters(
        sims, "sim", loose=1, tight=2, rounds=3, nodes=nodes
    ).select("node", "canopy").distinct()
    cp = (
        mem.alias("m1")
        .join(
            mem.alias("m2"),
            (F.col("m2.canopy") == F.col("m1.canopy"))
            & (F.col("m1.node") < F.col("m2.node")),
        )
        .select(F.col("m1.node").alias("x"), F.col("m2.node").alias("y"))
        .distinct()
    )
    one = cp.agg(
        F.count(F.lit(1)).cast("long").alias("comps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.pmod(F.col("x"), F.lit(10000000))
                    == F.pmod(F.col("y"), F.lit(10000000)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("twins_covered"),
    )
    return one.crossJoin(F.broadcast(tot)).select(
        F.lit("canopy_qgram4_l1_t2").alias("scheme"),
        "comps",
        "twins_covered",
        "twins_total",
        F.expr("(1000000 * twins_covered) div twins_total").alias(
            "recall_ppm"
        ),
        F.expr(
            "1000000 - ((1000000 * comps) div ((n * (n - 1)) div 2))"
        ).alias("rr_ppm"),
    )


SQL_CANOPY_BLOCKING_METRICS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "tot as (select count(*)::bigint as n,"
    "  sum(case when id < 10000000 then 1 else 0 end)::bigint"
    "    as twins_total from recs), "
    "qg as (select distinct id, substr(name, gp, 4) as g"
    "  from recs, unnest(generate_series(1, length(name) - 3)) as t(gp)"
    "  where length(name) >= 4), "
    "big as (select g from qg group by g having count(*) > 50), "
    "km as (select id, g from qg where g not in (select g from big)), "
    "sims as (select x.id as a, y.id as b, count(*)::bigint as sim"
    "  from km x join km y on y.g = x.g and x.id < y.id"
    "  group by 1, 2), "
    "sym as (select a, b, sim from"
    "  (select a, b, sim from sims union all select b, a, sim from sims)), "
    "ka0 as materialized (select a, b, sim from sym where sim >= 1), "
    "pnodes as materialized (select id as a from recs), "
    "p0 as materialized (select a from pnodes), "
    + _canopy_rounds_sql(3, 2)
    + ", "
    "mem as (select distinct a, canopy from"
    "  (select a, canopy from allmm"
    "   union all select a, a as canopy from p3)), "
    "cp as (select distinct m1.a as x, m2.a as y from mem m1"
    "  join mem m2 on m2.canopy = m1.canopy and m1.a < m2.a), "
    "one as (select count(*)::bigint as comps,"
    "  coalesce(sum(case when x % 10000000 = y % 10000000"
    "    then 1 else 0 end), 0)::bigint as twins_covered from cp) "
    "select 'canopy_qgram4_l1_t2' as scheme, comps, twins_covered,"
    "  twins_total,"
    "  (1000000 * twins_covered) // twins_total as recall_ppm,"
    "  1000000 - ((1000000 * comps) // ((n * (n - 1)) // 2)) as rr_ppm"
    " from one, tot"
)


def _truth_claims(spark, sf_dir):
    """Three-source conflicting-claims fixture over customer names: s0
    is always clean; s1 bumps the last character (+1) for custkey % 3;
    s2 bumps it (+2) for custkey % 4 — so objects see 3-way agreement,
    2-vs-1 conflicts in either direction, and (custkey % 12) 3-way
    splits, the full menu a fusion fixed-point has to rank."""
    cust = spark.read.parquet(_T(sf_dir, "customer"))

    def bump(k):
        return (
            "concat(substring(c_name, 1, length(c_name) - 1), "
            f"char(ascii(substring(c_name, length(c_name), 1)) + {k}))"
        )

    c0 = cust.select(
        F.col("c_custkey").cast("long").alias("obj"),
        F.lit("s0").alias("src"),
        F.col("c_name").alias("val"),
    )
    c1 = cust.select(
        F.col("c_custkey").cast("long").alias("obj"),
        F.lit("s1").alias("src"),
        F.expr(
            f"case when c_custkey % 3 = 0 then {bump(1)} else c_name end"
        ).alias("val"),
    )
    c2 = cust.select(
        F.col("c_custkey").cast("long").alias("obj"),
        F.lit("s2").alias("src"),
        F.expr(
            f"case when c_custkey % 4 = 0 then {bump(2)} else c_name end"
        ).alias("val"),
    )
    return c0.unionByName(c1).unionByName(c2)


def q_truth_fusion(spark, sf_dir):
    """Truth-discovery fusion (linkage.truth_discovery + fused_values,
    Pasternack & Roth 2010 "Sums"): two engine-exact integer iterations
    of claim-confidence ↔ source-trust mutual reinforcement over the
    three-source conflicting customer-name claims, then the argmax value
    per object (ties to the smaller value). The clean source never
    dissents alone twice in the same way, so its earned trust decides
    the 3-way (custkey % 12) splits — the rows hash-check both
    iterations' floor divisions, the dedup, and the min-struct argmax."""
    from xlink_spark.operators.linkage import fused_values, truth_discovery

    claims = _truth_claims(spark, sf_dir)
    return fused_values(
        truth_discovery(claims, "obj", "src", "val", iterations=2)
    )


def q_truth_source_trust(spark, sf_dir):
    """Companion trust table (linkage.source_trust): per-source
    reliability after the same two fused iterations — the audit artifact
    a fusion deployment feeds back into survivorship. Hash-checks that
    the clean source s0 outranks the corrupting s1/s2 purely from claim
    corroboration (no labels anywhere)."""
    from xlink_spark.operators.linkage import source_trust

    claims = _truth_claims(spark, sf_dir)
    return source_trust(claims, "obj", "src", "val", iterations=2)


_SQL_TRUTH_CLAIMS = (
    "cl as materialized (select distinct obj, src, val from ("
    "  select c_custkey::bigint as obj, 's0' as src, c_name as val"
    "  from customer"
    "  union all"
    "  select c_custkey::bigint, 's1',"
    "    case when c_custkey % 3 = 0 then"
    "      substr(c_name, 1, length(c_name) - 1) ||"
    "      chr(ascii(substr(c_name, length(c_name), 1)) + 1)"
    "    else c_name end from customer"
    "  union all"
    "  select c_custkey::bigint, 's2',"
    "    case when c_custkey % 4 = 0 then"
    "      substr(c_name, 1, length(c_name) - 1) ||"
    "      chr(ascii(substr(c_name, length(c_name), 1)) + 2)"
    "    else c_name end from customer)), "
    "t0 as (select src, 500::bigint as trust_ppt from"
    "  (select distinct src from cl)), "
)


def _truth_iter_sql(i: int) -> str:
    p = i - 1
    return (
        f"ct{i} as (select c.obj, c.src, c.val, t.trust_ppt"
        f"  from cl c join t{p} t using (src)), "
        f"n{i} as (select obj, val, sum(trust_ppt)::bigint as num,"
        f"  count(*)::bigint as ns from ct{i} group by 1, 2), "
        f"d{i} as (select obj, sum(trust_ppt)::bigint as den"
        f"  from ct{i} group by 1), "
        f"c{i} as materialized (select n.obj, n.val,"
        f"  ((1000 * n.num) // d.den)::bigint as conf_ppt,"
        f"  n.ns as n_sources from n{i} n join d{i} d using (obj)), "
        f"t{i} as materialized (select c.src,"
        f"  (sum(x.conf_ppt) // count(*))::bigint as trust_ppt"
        f"  from cl c join c{i} x on x.obj = c.obj and x.val = c.val"
        f"  group by c.src), "
    )


SQL_TRUTH_FUSION = (
    "with "
    + _SQL_TRUTH_CLAIMS
    + _truth_iter_sql(1)
    + _truth_iter_sql(2)
    + "ranked as (select obj, val, conf_ppt, n_sources,"
    "  row_number() over (partition by obj"
    "    order by conf_ppt desc, val) as rn from c2) "
    "select obj, val, conf_ppt, n_sources from ranked where rn = 1"
)

SQL_TRUTH_SOURCE_TRUST = (
    "with "
    + _SQL_TRUTH_CLAIMS
    + _truth_iter_sql(1)
    + _truth_iter_sql(2).rstrip(", ")
    + " select c.src, (sum(x.conf_ppt) // count(*))::bigint as trust_ppt,"
    "  count(*)::bigint as n_claims"
    "  from cl c join c2 x on x.obj = c.obj and x.val = c.val"
    "  group by c.src"
)


SQL_FUSED_GOLDEN_VALUES = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select r.id, r.name,"
    "  coalesce(c.component, r.id) as obj"
    "  from recs r left join comp c on c.node = r.id), "
    "cl as materialized (select distinct obj, src, val from ("
    "  select obj, 's0' as src, name as val from asg"
    "  union all"
    "  select obj, 's1',"
    "    case when id % 3 = 0 then"
    "      substr(name, 1, length(name) - 1) ||"
    "      chr(ascii(substr(name, length(name), 1)) + 1)"
    "    else name end from asg"
    "  union all"
    "  select obj, 's2',"
    "    case when id % 4 = 0 then"
    "      substr(name, 1, length(name) - 1) ||"
    "      chr(ascii(substr(name, length(name), 1)) + 2)"
    "    else name end from asg)), "
    "t0 as (select src, 500::bigint as trust_ppt from"
    "  (select distinct src from cl)), "
    + _truth_iter_sql(1)
    + _truth_iter_sql(2)
    + "rankedf as (select obj, val, conf_ppt, n_sources,"
    "  row_number() over (partition by obj"
    "    order by conf_ppt desc, val) as rn from c2) "
    "select obj as cluster, val, conf_ppt, n_sources"
    " from rankedf where rn = 1"
)



def q_truth_trust_avglog(spark, sf_dir):
    """Sums vs Average-Log source trust side by side (Pasternack & Roth
    2010) on the conflicting-claims fixture EXTENDED with s3 — a low-
    volume source asserting only every fifth object's clean name. The
    row set pins the method's point: under Sums s3's average confidence
    competes with the full-volume sources (volume-blind), while
    Average-Log multiplies by the floor-micro ln(n_claims) and discounts
    it. Both fixed-point chains (2 iterations each) replayed by the
    oracle — the only float is the shared ⌊10⁶·ln(n)⌋ micro-floor of a
    bigint claim count; the zero-denominator guard (reachable only under
    avg_log) rides the same CASE on both engines."""
    from xlink_spark.operators.linkage import source_trust

    cust = spark.read.parquet(_T(sf_dir, "customer"))
    s3 = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").cast("long").alias("obj"),
        F.lit("s3").alias("src"),
        F.col("c_name").alias("val"),
    )
    claims = _truth_claims(spark, sf_dir).unionByName(s3)
    ts = source_trust(claims, "obj", "src", "val").select(
        "src", "n_claims", F.col("trust_ppt").alias("trust_sums_ppt")
    )
    ta = source_trust(claims, "obj", "src", "val", method="avg_log").select(
        "src", F.col("trust_ppt").alias("trust_avglog_ppt")
    )
    return ts.join(ta, "src").select(
        "src", "n_claims", "trust_sums_ppt", "trust_avglog_ppt"
    )


_SQL_TRUTH_CLAIMS4 = (
    "cl4 as materialized (select distinct obj, src, val from ("
    "  select c_custkey::bigint as obj, 's0' as src, c_name as val"
    "  from customer"
    "  union all"
    "  select c_custkey::bigint, 's1',"
    "    case when c_custkey % 3 = 0 then"
    "      substr(c_name, 1, length(c_name) - 1) ||"
    "      chr(ascii(substr(c_name, length(c_name), 1)) + 1)"
    "    else c_name end from customer"
    "  union all"
    "  select c_custkey::bigint, 's2',"
    "    case when c_custkey % 4 = 0 then"
    "      substr(c_name, 1, length(c_name) - 1) ||"
    "      chr(ascii(substr(c_name, length(c_name), 1)) + 2)"
    "    else c_name end from customer"
    "  union all"
    "  select c_custkey::bigint, 's3', c_name from customer"
    "  where c_custkey % 5 = 0)), "
)

_TRUST_SUMS_SQL = "sum(x.conf_ppt) // count(*)"
_TRUST_AVGLOG_SQL = (
    "(sum(x.conf_ppt)"
    " * floor(1000000 * ln(count(*)::double))::bigint)"
    " // (count(*) * 1000000)"
)


def _truth_iter_sql_m(i: int, tag: str, trust_expr: str) -> str:
    """One fixed-point iteration over ``cl4`` with a method-specific
    trust update — the _truth_iter_sql shape with tagged CTE names so
    the Sums and Average-Log chains coexist in one WITH, plus the
    den = 0 conf guard (reachable only under avg_log)."""
    p = i - 1
    return (
        f"ct{tag}{i} as (select c.obj, c.src, c.val, t.trust_ppt"
        f"  from cl4 c join t{tag}{p} t using (src)), "
        f"n{tag}{i} as (select obj, val, sum(trust_ppt)::bigint as num,"
        f"  count(*)::bigint as ns from ct{tag}{i} group by 1, 2), "
        f"d{tag}{i} as (select obj, sum(trust_ppt)::bigint as den"
        f"  from ct{tag}{i} group by 1), "
        f"c{tag}{i} as materialized (select n.obj, n.val,"
        f"  (case when d.den = 0 then 0"
        f"    else (1000 * n.num) // d.den end)::bigint as conf_ppt"
        f"  from n{tag}{i} n join d{tag}{i} d using (obj)), "
        f"t{tag}{i} as materialized (select c.src,"
        f"  ({trust_expr})::bigint as trust_ppt"
        f"  from cl4 c join c{tag}{i} x on x.obj = c.obj and x.val = c.val"
        f"  group by c.src), "
    )


SQL_TRUTH_TRUST_AVGLOG = (
    "with "
    + _SQL_TRUTH_CLAIMS4
    + "ts0 as (select src, 500::bigint as trust_ppt from"
    "  (select distinct src from cl4)), "
    "ta0 as (select src, 500::bigint as trust_ppt from"
    "  (select distinct src from cl4)), "
    + _truth_iter_sql_m(1, "s", _TRUST_SUMS_SQL)
    + _truth_iter_sql_m(2, "s", _TRUST_SUMS_SQL)
    + _truth_iter_sql_m(1, "a", _TRUST_AVGLOG_SQL)
    + _truth_iter_sql_m(2, "a", _TRUST_AVGLOG_SQL)
    + "fs as (select c.src,"
    "  (" + _TRUST_SUMS_SQL + ")::bigint as trust_sums_ppt,"
    "  count(*)::bigint as n_claims"
    "  from cl4 c join cs2 x on x.obj = c.obj and x.val = c.val"
    "  group by c.src), "
    "fa as (select c.src,"
    "  (" + _TRUST_AVGLOG_SQL + ")::bigint as trust_avglog_ppt"
    "  from cl4 c join ca2 x on x.obj = c.obj and x.val = c.val"
    "  group by c.src) "
    "select fs.src, fs.n_claims, fs.trust_sums_ppt, fa.trust_avglog_ppt"
    " from fs join fa using (src)"
)


def q_allpairs_name_blocks(spark, sf_dir):
    """Prefix-filtered all-pairs Jaccard self-join
    (linkage.allpairs_jaccard_pairs — Bayardo et al. 2007 / Vernica et
    al. 2010) over a clean ∪ bumped-first-word corpus of part token sets
    (the two p_name words + p_type + p_brand — four distinct tokens per
    record): exact-recall candidate generation that joins only on each
    record's RAREST prefix tokens (p = n − ⌈t·n⌉ + 1 under the global
    document-frequency order), then length-filters and verifies exact
    distinct-token Jaccard ≥ 0.6 in pure integer arithmetic. The bumped
    twin shares 3 of 5 union tokens — J = 0.6 EXACTLY, sitting on the
    ≥ boundary, so the integer comparison decides it identically on both
    engines; the riding is_twin flag separates planted twins from the
    corpus's genuine shared-attribute near-dups. The oracle replays frequency ordering, prefix selection
    (row_number over (df, token) — the same total order), the purge, the
    length filter, and verification — every branch integer-exact. A third
    of the parts keeps prefix blocks small at every sf; max_block_size
    1500 is the at-scale purge knob (inert at these sf — asserted by the
    identical oracle)."""
    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    toks = _allpairs_fixture(spark, sf_dir)
    pairs = allpairs_jaccard_pairs(
        toks, "toks", "id", threshold_ppt=600, max_block_size=1500
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        "n_a",
        "n_b",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


def _allpairs_fixture(spark, sf_dir):
    """Shared allpairs corpus: a third of the parts, each record's token
    set = the two p_name words + p_type + p_brand (four distinct tokens),
    plus a dirty twin whose FIRST name word has its last letter bumped —
    the twin shares 3 of 5 union tokens (J = 0.6, cosine 0.75)."""
    part = spark.read.parquet(_T(sf_dir, "part")).filter(
        F.col("p_partkey") % 3 == 0
    )
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("name"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("w1"),
        F.col("p_type").alias("ty"),
        F.col("p_brand").alias("br"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(w1, 1, length(w1) - 1),"
            " char(ascii(substring(w1, length(w1), 1)) + 1),"
            " substring(name, length(w1) + 1))"
        ).alias("name"),
        "w1",
        "ty",
        "br",
    )
    recs = base.unionByName(dirty)
    return recs.select(
        "id", F.split(F.concat_ws(" ", "name", "ty", "br"), " ").alias("toks")
    )


def _sql_allpairs_name_blocks(alpha: str, len_cond: str, verify: str) -> str:
    """One oracle body per measure — the three expression slots mirror
    the operator's alpha / length-filter / verification switch exactly
    (kept in lockstep with allpairs_jaccard_pairs; parity pinned at both
    sf by the allpairs_name_blocks / allpairs_cosine_blocks rows)."""
    return (
        "with base as (select p_partkey::bigint as id, p_name as name,"
        "  regexp_extract(p_name, '^[a-z]+', 0) as w1, p_type as ty,"
        "  p_brand as br from part"
        "  where p_partkey % 3 = 0), "
        "dirty as (select id + 10000000 as id,"
        "  substr(w1, 1, length(w1) - 1)"
        "    || chr(ascii(substr(w1, length(w1), 1)) + 1)"
        "    || substr(name, length(w1) + 1) as name, ty, br"
        "  from base), "
        "recs as (select id, name || ' ' || ty || ' ' || br as name"
        "  from (select id, name, ty, br from base"
        "        union all select * from dirty)), "
        "toks as (select distinct id, unnest(string_split(name, ' ')) as tok"
        "  from recs), "
        "freq as (select tok, count(*)::bigint as df_ from toks group by tok), "
        "ranked as (select t.id, t.tok,"
        "  row_number() over (partition by t.id order by f.df_, t.tok) as rn,"
        "  count(*) over (partition by t.id) as n"
        "  from toks t join freq f using (tok)), "
        "prefix as (select id, tok, n from ranked"
        f"  where rn <= n - ({alpha}) + 1), "
        "kept as (select tok from prefix group by tok"
        "  having count(*) <= 1500), "
        "pf as (select p.id, p.tok, p.n from prefix p join kept using (tok)), "
        "cands as (select distinct a.id as id_a, b.id as id_b,"
        "  a.n as n_a, b.n as n_b"
        "  from pf a join pf b on a.tok = b.tok and a.id < b.id"
        f"  where {len_cond}), "
        "shared as (select c.id_a, c.id_b, count(*)::bigint as n_shared"
        "  from cands c"
        "  join toks ta on ta.id = c.id_a"
        "  join toks tb on tb.id = c.id_b and tb.tok = ta.tok"
        "  group by c.id_a, c.id_b) "
        "select c.id_a, c.id_b, s.n_shared, c.n_a::bigint as n_a,"
        "  c.n_b::bigint as n_b,"
        "  (c.id_a % 10000000) = (c.id_b % 10000000) as is_twin "
        "from cands c join shared s on s.id_a = c.id_a and s.id_b = c.id_b "
        f"where {verify}"
    )


SQL_ALLPAIRS_NAME_BLOCKS = _sql_allpairs_name_blocks(
    "(n * 600 + 999) // 1000",
    "1000 * least(a.n, b.n) >= 600 * greatest(a.n, b.n)",
    "1000 * s.n_shared >= 600 * (c.n_a + c.n_b - s.n_shared)",
)


def q_allpairs_cosine_blocks(spark, sf_dir):
    """The same prefix-filtered all-pairs join as allpairs_name_blocks
    but under the COSINE set measure at t=0.7
    (linkage.allpairs_jaccard_pairs(measure='cosine')): prefix length
    ⌈t²·n⌉, length filter t²·max ≤ 10⁶·min, verification
    10⁶·o² ≥ t²·n_a·n_b — the PPJoin family's second measure, with its
    own sound bounds, over identical records so the two measures'
    frontiers are directly comparable (the twin pair sits at cosine
    3/√16 = 0.75 ≥ 0.7 and Jaccard 3/5 = 0.6 — both boundary-decided in
    exact integers). All-integer arithmetic end to end; the oracle swaps
    exactly the three expression slots."""
    from xlink_spark.operators.linkage import allpairs_jaccard_pairs

    toks = _allpairs_fixture(spark, sf_dir)
    pairs = allpairs_jaccard_pairs(
        toks,
        "toks",
        "id",
        threshold_ppt=700,
        max_block_size=1500,
        measure="cosine",
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        "n_a",
        "n_b",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


SQL_ALLPAIRS_COSINE_BLOCKS = _sql_allpairs_name_blocks(
    "(n * 490000 + 999999) // 1000000",
    "1000000 * least(a.n, b.n) >= 490000 * greatest(a.n, b.n)",
    "1000000 * s.n_shared * s.n_shared >= 490000 * c.n_a * c.n_b",
)


def q_group_linkage_ges(spark, sf_dir):
    """Group linkage (linkage.group_linkage_scores — On et al., ICDE
    2007) lifted onto the allpairs fixture: records are the clean ∪
    bumped-first-word parts, groups bundle five consecutive kept
    partkeys per side ('c<k>' clean / 'd<k>' dirty), record-pair sims
    are the floor-ppt Jaccard of the verified allpairs output, and each
    clean group should link to its dirty twin ('cK' ↔ 'dK', flagged by
    is_twin_group) through the mutual-best member alignment and the
    GES = Σ sim / (|A|+|B|−|M|) normalization. The oracle nests the full
    allpairs query and replays orientation canonicalization, pair-grain
    max, the two matching windows, and the size-diluted division —
    all-integer end to end."""
    from xlink_spark.operators.linkage import (
        allpairs_jaccard_pairs,
        group_linkage_scores,
    )

    toks = _allpairs_fixture(spark, sf_dir)
    pairs = allpairs_jaccard_pairs(
        toks, "toks", "id", threshold_ppt=600, max_block_size=1500
    )
    sims = pairs.select(
        "id_a",
        "id_b",
        F.expr("(1000 * n_shared) div (n_a + n_b - n_shared)").alias(
            "sim_ppt"
        ),
    )
    grp = toks.select(
        "id",
        F.concat(
            F.when(F.col("id") < 10000000, F.lit("c")).otherwise(F.lit("d")),
            F.expr("pmod(id, 10000000) div 15").cast("string"),
        ).alias("group"),
    )
    out = group_linkage_scores(sims, grp)
    return out.select(
        "*",
        (
            (F.expr("substring(group_a, 2)") == F.expr("substring(group_b, 2)"))
            & (F.expr("substring(group_a, 1, 1)") == F.lit("c"))
            & (F.expr("substring(group_b, 1, 1)") == F.lit("d"))
        ).alias("is_twin_group"),
    )


SQL_GROUP_LINKAGE_GES = (
    f"with pairs as ({SQL_ALLPAIRS_NAME_BLOCKS}), "
    "base2 as (select p_partkey::bigint as id from part"
    "  where p_partkey % 3 = 0), "
    "ids as (select id from base2"
    "  union all select id + 10000000 as id from base2), "
    "gr as (select id, (case when id < 10000000 then 'c' else 'd' end)"
    "  || ((id % 10000000) // 15)::varchar as grp from ids), "
    "sims as (select id_a, id_b,"
    "  (1000 * n_shared) // (n_a + n_b - n_shared) as sim from pairs), "
    "ps as (select s.id_a, s.id_b, s.sim, ga.grp as gx, gb.grp as gy"
    "  from sims s join gr ga on ga.id = s.id_a"
    "  join gr gb on gb.id = s.id_b where ga.grp <> gb.grp), "
    "ori as (select case when gx < gy then gx else gy end as g1,"
    "  case when gx < gy then gy else gx end as g2,"
    "  case when gx < gy then id_a else id_b end as r1,"
    "  case when gx < gy then id_b else id_a end as r2, sim from ps), "
    "pg as (select g1, g2, r1, r2, max(sim) as sim from ori"
    "  group by g1, g2, r1, r2), "
    "w as (select *,"
    "  row_number() over (partition by g1, g2, r1"
    "    order by sim desc, r2 asc) as rna,"
    "  row_number() over (partition by g1, g2, r2"
    "    order by sim desc, r1 asc) as rnb from pg), "
    "mt as (select g1, g2, count(*)::bigint as n_matched,"
    "  sum(sim)::bigint as sum_sim_ppt from w"
    "  where rna = 1 and rnb = 1 group by g1, g2), "
    "gsz as (select grp, count(*)::bigint as gn from gr group by grp) "
    "select m.g1 as group_a, m.g2 as group_b, m.n_matched, m.sum_sim_ppt,"
    "  a.gn as n_a, b.gn as n_b,"
    "  (m.sum_sim_ppt // (a.gn + b.gn - m.n_matched))::bigint as ges_ppt,"
    "  (substr(m.g1, 2) = substr(m.g2, 2) and substr(m.g1, 1, 1) = 'c'"
    "   and substr(m.g2, 1, 1) = 'd') as is_twin_group "
    "from mt m join gsz a on a.grp = m.g1 join gsz b on b.grp = m.g2"
)


def q_mutual_best_pairs(spark, sf_dir):
    """One-to-one clean-clean matching (linkage.mutual_best_matches): FS
    pair scores restricted to cross-side (clean↔dirty) candidates, then a
    pair survives iff it is BOTH its clean record's best dirty candidate
    and its dirty record's best clean candidate — two row_number windows
    over exact bigint scores with id-ascending tie-breaks, so the decision
    is engine-reproducible without margins. The is_match label rides along
    to pin the matcher's accuracy in the hash."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        mutual_best_matches,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    side_a = F.col("id_a") < 10000000
    side_b = F.col("id_b") < 10000000
    canon = scores.filter(side_a != side_b).select(
        F.when(side_a, F.col("id_a")).otherwise(F.col("id_b")).alias(
            "clean_id"
        ),
        F.when(side_a, F.col("id_b")).otherwise(F.col("id_a")).alias(
            "dirty_id"
        ),
        "score_micro",
    )
    return mutual_best_matches(
        canon, "clean_id", "dirty_id", "score_micro"
    ).select(
        "clean_id",
        "dirty_id",
        "score_micro",
        (
            F.pmod(F.col("clean_id"), F.lit(10000000))
            == F.pmod(F.col("dirty_id"), F.lit(10000000))
        ).alias("is_match"),
    )


SQL_MUTUAL_BEST_PAIRS = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "cross_ as (select"
    "  case when id_a < 10000000 then id_a else id_b end as clean_id,"
    "  case when id_a < 10000000 then id_b else id_a end as dirty_id,"
    "  score_micro from sc"
    "  where (id_a < 10000000) <> (id_b < 10000000)), "
    "rk as (select *,"
    "  row_number() over (partition by clean_id"
    "    order by score_micro desc, dirty_id asc) as ra,"
    "  row_number() over (partition by dirty_id"
    "    order by score_micro desc, clean_id asc) as rb"
    "  from cross_) "
    "select clean_id, dirty_id, score_micro,"
    "  (clean_id % 10000000) = (dirty_id % 10000000) as is_match "
    "from rk where ra = 1 and rb = 1"
)


def q_link_constraints(spark, sf_dir):
    """Must-link / cannot-link constraint audit (linkage.constraint_audit)
    over the full ER chain's transitive clusters: must-link = every fourth
    clean record against its planted dirty twin, cannot-link = every
    id%4==1 record against the NEXT record's twin (a genuinely distinct
    identity by construction). The oracle replays blocking → FS → CC →
    the audit joins, so this hash checks the constraint semantics against
    the same causal chain the ARI/B³ gauges use — violated cannot-links
    are exactly the chain's false-positive merges."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        constraint_audit,
        fs_score,
        match_weights,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("cluster")
    )
    must, cannot = _linkage_constraint_frames(recs)
    return constraint_audit(asg, must.unionByName(cannot))


def _linkage_constraint_frames(recs):
    """Deterministic constraint fixtures over the linkage records: must =
    every id%4==0 clean record vs its planted twin; cannot = every
    id%4==1 clean record vs the NEXT record's twin (a distinct identity
    by construction — custkeys are 1..N, so (id % max)+1 ≠ id)."""
    clean = recs.select("id").filter(F.col("id") < 10000000)
    mx = clean.agg(F.max("id").alias("_mx"))
    must = clean.filter(F.pmod(F.col("id"), F.lit(4)) == 0).select(
        F.lit("must").alias("kind"),
        F.col("id").alias("id_a"),
        (F.col("id") + 10000000).alias("id_b"),
    )
    cannot = (
        clean.filter(F.pmod(F.col("id"), F.lit(4)) == 1)
        .crossJoin(F.broadcast(mx))
        .select(
            F.lit("cannot").alias("kind"),
            F.col("id").alias("id_a"),
            (
                F.pmod(F.col("id"), F.col("_mx")) + 1 + 10000000
            ).alias("id_b"),
        )
    )
    return must, cannot


SQL_LINK_CONSTRAINTS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select r.id, coalesce(c.component, r.id) as cluster"
    "  from recs r left join comp c on c.node = r.id), "
    "clean as (select id from recs where id < 10000000), "
    "mx as (select max(id)::bigint as m from clean), "
    "cons as ("
    "  select 'must' as kind, id as id_a, id + 10000000 as id_b"
    "  from clean where id % 4 = 0"
    "  union all"
    "  select 'cannot', id, ((id % m) + 1) + 10000000"
    "  from clean, mx where id % 4 = 1), "
    "aud as (select k.kind, k.id_a, k.id_b,"
    "  a.cluster as cluster_a, b.cluster as cluster_b"
    "  from cons k left join asg a on a.id = k.id_a"
    "  left join asg b on b.id = k.id_b) "
    "select kind, id_a, id_b, cluster_a, cluster_b,"
    "  case when kind = 'must'"
    "    then coalesce("
    "      cluster_a is not null and cluster_a = cluster_b, false)"
    "    else not coalesce("
    "      cluster_a is not null and cluster_a = cluster_b, false)"
    "  end as satisfied "
    "from aud"
)


def q_suffix_blocks(spark, sf_dir):
    """Suffix blocking (linkage.suffix_blocking_pairs, Aizawa-Oyama) over
    the REVERSED linkage names — the reversal trick turns suffix blocking
    into prefix blocking, exactly what the planted LAST-char typo needs:
    every planted twin is caught (100% recall at every sf, measured)
    through its decade-grain suffix block, the only block fine enough to
    survive the purge (the coarser century/millennium suffix runs are the
    head-heavy blocks, purged at 50 before the self-join). The top
    n_shared weight goes to a fixture artifact worth pinning: bumping the
    last digit of Customer#...X yields Customer#...X+1 VERBATIM, so
    dirty(X)↔clean(X+1) pairs have byte-identical names and share every
    kept suffix — exactly the confusable-neighbor collision that makes
    exact-name agreement anti-predictive in the FS weights upstream.
    Pure string/integer ops — no margins."""
    from xlink_spark.operators.linkage import suffix_blocking_pairs

    recs = _linkage_records(spark, sf_dir).select(
        "id", F.reverse(F.col("name")).alias("rkey")
    )
    pairs = suffix_blocking_pairs(
        recs, "rkey", "id", min_len=12, max_block_size=50
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


SQL_SUFFIX_BLOCKS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "sfx as (select id, substr(reverse(name), g) as sfx"
    "  from recs, unnest(generate_series(1, length(name) - 11)) as t(g)), "
    "kept as (select sfx from sfx group by 1 having count(*) <= 50), "
    "km as (select s.id, s.sfx from sfx s join kept using (sfx)), "
    "p as (select a.id as id_a, b.id as id_b, count(*)::bigint as n_shared"
    "  from km a join km b on a.sfx = b.sfx and a.id < b.id group by 1, 2) "
    "select id_a, id_b, n_shared,"
    "  (id_a % 10000000) = (id_b % 10000000) as is_twin from p"
)


def q_constrained_links(spark, sf_dir):
    """Constraint-enforced transitive clustering
    (linkage.constrained_components): the ER chain's match edges with the
    must-link pairs UNIONED in and the cannot-link pairs REMOVED before
    connected components, then the SAME audit as link_constraints replays
    the constraints against the constrained clusters. Every must row is
    satisfied by construction (its edge exists); cannot rows expose the
    honest residue — TRANSITIVE violations that survive removal of the
    direct edge. Hash-diffing this against link_constraints shows exactly
    what structural enforcement buys over post-hoc auditing."""
    from xlink_spark.operators.linkage import (
        constrained_components,
        constraint_audit,
        fs_score,
        match_weights,
    )

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select("id_a", "id_b")
    recs = _linkage_records(spark, sf_dir).select("id")
    must, cannot = _linkage_constraint_frames(recs)
    comp = constrained_components(
        edges,
        must=must.select("id_a", "id_b"),
        cannot=cannot.select("id_a", "id_b"),
    )
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("cluster")
    )
    return constraint_audit(asg, must.unionByName(cannot))


SQL_CONSTRAINED_LINKS = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    "clean as (select id from recs where id < 10000000), "
    "mx as (select max(id)::bigint as m from clean), "
    "cons as ("
    "  select 'must' as kind, id as id_a, id + 10000000 as id_b"
    "  from clean where id % 4 = 0"
    "  union all"
    "  select 'cannot', id, ((id % m) + 1) + 10000000"
    "  from clean, mx where id % 4 = 1), "
    "eg0 as (select id_a as src, id_b as dst from sc"
    "  where score_micro >= 0"
    "  union all"
    "  select id_a, id_b from cons where kind = 'must'), "
    "canon as (select distinct least(src, dst) as lo,"
    "  greatest(src, dst) as hi from eg0), "
    "ccanon as (select least(id_a, id_b) as lo,"
    "  greatest(id_a, id_b) as hi from cons where kind = 'cannot'), "
    "filtered as (select c.lo, c.hi from canon c"
    "  left join ccanon x on x.lo = c.lo and x.hi = c.hi"
    "  where x.lo is null), "
    "undirected as (select lo as src, hi as dst from filtered"
    "  union select hi, lo from filtered), "
    "walk (node, reach) as ("
    "  select src as node, dst as reach from undirected"
    "  union"
    "  select wk.node, u.dst as reach"
    "  from walk wk join undirected u on u.src = wk.reach"
    "  where u.dst <> wk.node), "
    "comp as (select node, least(node, min(reach)) as component"
    "  from walk group by node), "
    "asg as (select r.id, coalesce(c.component, r.id) as cluster"
    "  from recs r left join comp c on c.node = r.id), "
    "aud as (select k.kind, k.id_a, k.id_b,"
    "  a.cluster as cluster_a, b.cluster as cluster_b"
    "  from cons k left join asg a on a.id = k.id_a"
    "  left join asg b on b.id = k.id_b) "
    "select kind, id_a, id_b, cluster_a, cluster_b,"
    "  case when kind = 'must'"
    "    then coalesce("
    "      cluster_a is not null and cluster_a = cluster_b, false)"
    "    else not coalesce("
    "      cluster_a is not null and cluster_a = cluster_b, false)"
    "  end as satisfied "
    "from aud"
)


def q_clustering_vmeasure(spark, sf_dir):
    """V-measure (eval/bcubed.vmeasure, Rosenberg & Hirschberg) of the ER
    chain's transitive clusters vs the planted-twin gold partition — the
    entropy gauge completing pairwise F1 / B³ / ARI. Entropies are sums
    of per-cell bigint micro-floors with the ln() expression shared
    operation-for-operation with the oracle (margins measured before
    shipping); h/c/v are single correctly-rounded double divisions of the
    exact sums."""
    from xlink_spark.eval.bcubed import vmeasure
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        F.coalesce(F.col("component"), F.col("id")).alias("pred"),
        F.pmod(F.col("id"), F.lit(10000000)).alias("gold"),
    )
    return vmeasure(asg)


_SQL_VM_TERM = (
    "floor((1000000e0 * {cnt} * ln({marg}::double / {cnt}::double))"
    " / n::double)::bigint"
)

SQL_CLUSTERING_VMEASURE = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select coalesce(c.component, r.id) as pred,"
    "  r.id % 10000000 as gold"
    "  from recs r left join comp c on c.node = r.id), "
    "cells as (select pred, gold, count(*)::bigint as n_ck"
    "  from asg group by 1, 2), "
    "pk as (select pred, count(*)::bigint as n_k from asg group by 1), "
    "gk as (select gold, count(*)::bigint as m_c from asg group by 1), "
    "nt as (select count(*)::bigint as n from asg), "
    "conds as (select"
    f"  coalesce(sum({_SQL_VM_TERM.format(cnt='n_ck', marg='n_k')}), 0)"
    "    ::bigint as h_gold_given_pred_micro,"
    f"  coalesce(sum({_SQL_VM_TERM.format(cnt='n_ck', marg='m_c')}), 0)"
    "    ::bigint as h_pred_given_gold_micro"
    "  from cells join pk using (pred) join gk using (gold), nt), "
    "hg as (select"
    f"  coalesce(sum({_SQL_VM_TERM.format(cnt='m_c', marg='n')}), 0)"
    "    ::bigint as h_gold_micro from gk, nt), "
    "hp as (select"
    f"  coalesce(sum({_SQL_VM_TERM.format(cnt='n_k', marg='n')}), 0)"
    "    ::bigint as h_pred_micro from pk, nt), "
    "base as (select n, h_gold_given_pred_micro, h_gold_micro,"
    "  h_pred_given_gold_micro, h_pred_micro,"
    "  case when h_gold_micro = 0 then 1e0"
    "    else 1e0 - h_gold_given_pred_micro::double / h_gold_micro::double"
    "  end as homogeneity,"
    "  case when h_pred_micro = 0 then 1e0"
    "    else 1e0 - h_pred_given_gold_micro::double / h_pred_micro::double"
    "  end as completeness"
    "  from nt, conds, hg, hp) "
    "select *, case when homogeneity + completeness = 0 then 0e0"
    "  else 2e0 * homogeneity * completeness"
    "       / (homogeneity + completeness) end as v_measure "
    "from base"
)


def q_er_blocking_compare(spark, sf_dir):
    """The blocking-scheme frontier across nine candidate-generation
    families on the SAME records — the gauge a deployment runs before
    committing a blocker. Per scheme: comparisons (Σ C(n_b,2) over blocks
    for key schemes — no pair ever materialized, the blocking_metrics
    trick; the actual pair count for SNM, whose window bounds it
    linearly; the distinct post-length-filter candidate count for
    allpairs, whose verifier compares exactly those), planted-twin
    recall, and reduction ratio vs C(n,2) — all exact integer ppm. The
    fixture makes the trade vivid: phonetic Soundex, NYSIIS AND Caverphone on
    ID-like names are recall-perfect but reduction-free (digit bumps
    never touch the letters — one giant block each; NYSIIS is finer only
    where vowel SHAPE differs, which digits don't), suffix/SNM sit on
    the efficient frontier, qgram lands between them (its informative
    grams cluster around the corrupted tail character), and
    allpairs-over-the-same-4-gram-sets at t=0.6 honestly degenerates to
    ALL pairs (rr 0): dense identifiers share the long constant prefix,
    so nearly every pair's TRUE gram-Jaccard clears the threshold and
    exact-recall candidate generation must keep them — the gauge's
    lesson is that set-similarity blocking is the wrong scheme for
    ID-like keys (it shines on word-token corpora: allpairs_name_blocks)
    while positional schemes (suffix/SNM) exploit where the corruption
    lives. The ninth scheme, edjoin_k1_q2, is the threshold-class
    answer: exact recall for ANY single-edit corruption regardless of
    position, with comps = the verified ed<=1 pairs the downstream
    comparator sees (the SNM convention; its prefix-join candidate
    superset is the hidden cost the others don't pay)."""
    from xlink_spark.operators.fuzzy import (
        caverphone_key,
        nysiis_key,
        soundex_key,
    )
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    tot = recs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("id") < 10000000, 1).otherwise(0))
        .cast("long")
        .alias("twins_total"),
    )

    def _finish(scheme, one):
        return (
            one.crossJoin(F.broadcast(tot))
            .select(
                F.lit(scheme).alias("scheme"),
                "comps",
                "twins_covered",
                "twins_total",
                F.expr("(1000000 * twins_covered) div twins_total").alias(
                    "recall_ppm"
                ),
                F.expr(
                    "1000000 - ((1000000 * comps) div ((n * (n - 1)) div 2))"
                ).alias("rr_ppm"),
            )
        )

    # SNM: window-bounded, count the real pairs
    snm = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    snm_one = snm.agg(
        F.count(F.lit(1)).cast("long").alias("comps"),
        F.sum(
            F.when(
                F.pmod(F.col("id_a"), F.lit(10000000))
                == F.pmod(F.col("id_b"), F.lit(10000000)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("twins_covered"),
    )

    # phonetic: block-size arithmetic + a twin-grain key join (linear)
    pb = recs.select("id", soundex_key("name").alias("k"))
    p_comp = (
        pb.groupBy("k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("comps")
        )
    )
    pa = pb.filter(F.col("id") < 10000000)
    pd_ = pb.select((F.col("id") - 10000000).alias("id"), F.col("k").alias("_dk"))
    p_tw = (
        pa.join(pd_, "id")
        .agg(
            F.sum(F.when(F.col("k") == F.col("_dk"), 1).otherwise(0))
            .cast("long")
            .alias("twins_covered")
        )
    )
    phon_one = p_comp.crossJoin(F.broadcast(p_tw))

    # suffix (reversed, min 12, cap 50): kept-block arithmetic + a
    # (base, suffix)-grain join for twin coverage
    sfx = recs.select(
        "id",
        F.explode(
            F.when(
                F.length("name") >= 12,
                F.transform(
                    F.sequence(F.lit(1), F.length("name") - F.lit(11)),
                    lambda i: F.reverse(F.col("name")).substr(
                        i, F.length("name")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("s"),
    )
    oversized = (
        sfx.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 50)
        .select("s")
    )
    km = sfx.join(F.broadcast(oversized), "s", "left_anti")
    s_comp = (
        km.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("comps")
        )
    )
    ka = km.filter(F.col("id") < 10000000)
    kd = km.select((F.col("id") - 10000000).alias("id"), "s")
    s_tw = (
        ka.join(kd, ["id", "s"])
        .agg(F.count_distinct("id").cast("long").alias("twins_covered"))
    )
    suf_one = s_comp.crossJoin(F.broadcast(s_tw))

    # qgram (q=4, cap 50): kept-block arithmetic + (base, gram)-grain
    # twin coverage — same block-comparisons definition as suffix
    qg = recs.select(
        "id",
        F.explode(
            F.when(
                F.length("name") >= 4,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length("name") - F.lit(3)),
                        lambda i: F.col("name").substr(i, F.lit(4)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    q_over = (
        qg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 50)
        .select("g")
    )
    qkm = qg.join(F.broadcast(q_over), "g", "left_anti")
    q_comp = (
        qkm.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("comps")
        )
    )
    qa = qkm.filter(F.col("id") < 10000000)
    qd = qkm.select((F.col("id") - 10000000).alias("id"), "g")
    q_tw = (
        qa.join(qd, ["id", "g"])
        .agg(F.count_distinct("id").cast("long").alias("twins_covered"))
    )
    qg_one = q_comp.crossJoin(F.broadcast(q_tw))

    # nysiis: the soundex arithmetic at the finer phonetic key
    nb = recs.select("id", nysiis_key("name").alias("k"))
    n_comp = (
        nb.groupBy("k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("comps")
        )
    )
    na = nb.filter(F.col("id") < 10000000)
    nd = nb.select((F.col("id") - 10000000).alias("id"), F.col("k").alias("_dk"))
    n_tw = na.join(nd, "id").agg(
        F.sum(F.when(F.col("k") == F.col("_dk"), 1).otherwise(0))
        .cast("long")
        .alias("twins_covered")
    )
    nys_one = n_comp.crossJoin(F.broadcast(n_tw))

    # caverphone: the same arithmetic at the 10-char key — digits are
    # stripped like soundex/nysiis, so ID-like names hit the SAME
    # degenerate corner (the lesson generalizes to the whole family)
    cb = recs.select("id", caverphone_key("name").alias("k"))
    c_comp = (
        cb.groupBy("k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("comps")
        )
    )
    ca_ = cb.filter(F.col("id") < 10000000)
    cd_ = cb.select((F.col("id") - 10000000).alias("id"), F.col("k").alias("_dk"))
    c_tw = ca_.join(cd_, "id").agg(
        F.sum(F.when(F.col("k") == F.col("_dk"), 1).otherwise(0))
        .cast("long")
        .alias("twins_covered")
    )
    cav_one = c_comp.crossJoin(F.broadcast(c_tw))

    # allpairs over the SAME distinct 4-gram sets (pre-purge qg rows),
    # t = 0.6: per-record frequency-ordered prefix + length filter;
    # comps = the distinct candidate pairs the verifier would compare
    ap_sorted = (
        qg.join(qg.groupBy("g").agg(F.count(F.lit(1)).alias("_df")), "g")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "g"))),
                lambda s: s["g"],
            ).alias("_sg")
        )
        .select("id", "_sg", F.size("_sg").alias("_n"))
    )
    plen = (
        F.col("_n")
        - ((F.col("_n") * F.lit(600) + F.lit(999)) / F.lit(1000)).cast("long")
        + F.lit(1)
    )
    apx = ap_sorted.select(
        "id", "_n", F.explode(F.slice("_sg", F.lit(1), plen)).alias("g")
    )
    aa = apx.select(F.col("id").alias("id_a"), F.col("_n").alias("n_a"), "g")
    ab = apx.select(F.col("id").alias("id_b"), F.col("_n").alias("n_b"), "g")
    acand = (
        aa.join(ab, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.lit(1000) * F.least("n_a", "n_b")
            >= F.lit(600) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ap_one = acand.agg(
        F.count(F.lit(1)).cast("long").alias("comps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.pmod(F.col("id_a"), F.lit(10000000))
                    == F.pmod(F.col("id_b"), F.lit(10000000)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("twins_covered"),
    )

    # vector (LSH) blocking: distinct SRP band-collision candidates —
    # the verifier's workload, same comps definition as allpairs. On
    # ID-like names the gram vectors of ANY two records are already
    # similar (the shared constant prefix dominates the counts), so the
    # family lands in a "worst of both" corner here: partial twin
    # recall AND weak reduction — the converse of its word-token
    # showing in vector_blocks, completing the gauge's lesson that
    # blocking schemes are corpus-shaped
    from xlink_spark.operators.linkage import vector_blocking_pairs

    vcand = vector_blocking_pairs(
        recs, "name", "id", q=3, dim=64, planes=48, band_rows=8,
        verify=False,
    )
    v_one = vcand.agg(
        F.count(F.lit(1)).cast("long").alias("comps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.pmod(F.col("id_a"), F.lit(10000000))
                    == F.pmod(F.col("id_b"), F.lit(10000000)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("twins_covered"),
    )

    # edjoin: the exact bounded ed<=1 join; comps = the VERIFIED pairs the
    # downstream comparator sees (the SNM convention). Recall is exact by
    # construction — the scheme's real cost, the prefix-join candidate
    # superset, is bounded by the three rarest bigrams per name.
    from xlink_spark.operators.linkage import edit_distance_join

    ej = edit_distance_join(recs, "name", "id", k=1, q=2)
    ej_one = ej.agg(
        F.count(F.lit(1)).cast("long").alias("comps"),
        F.coalesce(
            F.sum(
                F.when(
                    F.pmod(F.col("id_a"), F.lit(10000000))
                    == F.pmod(F.col("id_b"), F.lit(10000000)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("twins_covered"),
    )

    return (
        _finish("snm_w4", snm_one)
        .unionByName(_finish("phonetic_soundex", phon_one))
        .unionByName(_finish("suffix_rev12_cap50", suf_one))
        .unionByName(_finish("qgram4_cap50", qg_one))
        .unionByName(_finish("phonetic_nysiis", nys_one))
        .unionByName(_finish("phonetic_caverphone", cav_one))
        .unionByName(_finish("allpairs_qgram4_t600", ap_one))
        .unionByName(_finish("vector_srp48x8", v_one))
        .unionByName(_finish("edjoin_k1_q2", ej_one))
    )


def _vb_sql_ctes(
    prefix: str,
    src_rel: str,
    text_expr: str,
    *,
    q: int = 3,
    dim: int = 64,
    planes: int = 48,
    band_rows: int = 8,
    where_sql: str = "",
) -> str:
    """DuckDB CTE chain for the vector-blocking candidate generator
    (hashed q-gram count vectors -> md5 ±1 SRP plane sums -> band codes
    -> distinct band-collision pairs), ending at ``{prefix}cand``; the
    same md5 plane matrix the Spark operator derives."""
    n_bands = planes // band_rows
    sign_cols = ", ".join(
        f"case when (('0x' || substr(md5('vb:{p}:' || d::varchar), 1, 1))"
        f"::bigint % 2) = 0 then 1 else -1 end as s{p}"
        for p in range(planes)
    )
    sum_cols = ", ".join(
        f"sum(v.v * s.s{p})::bigint as p{p}" for p in range(planes)
    )
    code_selects = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(case when p{b * band_rows + r} > 0 then {1 << r} else 0 end)"
            for r in range(band_rows)
        )
        code_selects.append(
            f"select id, {b} as band, ({bits}) as code from {prefix}sums"
        )
    coded = " union all ".join(code_selects)
    return (
        f"{prefix}sub as (select id, lower({text_expr}) as t"
        f"  from {src_rel}{where_sql}), "
        f"{prefix}grams as (select id, substr(t, g, {q}) as g"
        f"  from {prefix}sub,"
        f"  unnest(generate_series(1, length(t) - {q - 1})) as u(g)"
        f"  where length(t) >= {q}), "
        f"{prefix}vec as (select id, (('0x' || substr(md5(g), 1, 8))::bigint"
        f" % {dim}) as d, count(*)::bigint as v from {prefix}grams"
        f"  group by 1, 2), "
        f"{prefix}signs as materialized (select d, {sign_cols} from"
        f"  (select unnest(generate_series(0, {dim - 1}))::bigint as d)), "
        f"{prefix}sums as materialized (select v.id, {sum_cols}"
        f"  from {prefix}vec v join {prefix}signs s using (d) group by 1), "
        f"{prefix}coded as materialized ({coded}), "
        f"{prefix}cand as (select distinct x.id as id_a, y.id as id_b"
        f"  from {prefix}coded x join {prefix}coded y on y.band = x.band"
        f"  and y.code = x.code and x.id < y.id)"
    )


def _sql_er_blocking_compare() -> str:
    from xlink_spark.operators.fuzzy import (
        caverphone_sql,
        nysiis_sql,
        soundex_sql,
    )

    return (
        f"with {_SQL_LINKAGE_BASE}, "
        "tot as (select count(*)::bigint as n,"
        "  sum(case when id < 10000000 then 1 else 0 end)::bigint"
        "    as twins_total from recs), "
        "snm1 as (select count(*)::bigint as comps,"
        "  sum(case when id_a % 10000000 = id_b % 10000000 then 1 else 0"
        "    end)::bigint as twins_covered from pairs), "
        f"pb as (select id, {soundex_sql('name')} as k from recs), "
        "pc as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
        "  as comps from (select count(*)::bigint as n_ from pb group by k)), "
        "pt as (select sum(case when a.k = d.k then 1 else 0 end)::bigint"
        "  as twins_covered from pb a join pb d on d.id = a.id + 10000000"
        "  where a.id < 10000000), "
        "sfx as (select id, substr(reverse(name), g) as s"
        "  from recs, unnest(generate_series(1, length(name) - 11)) as t(g)), "
        "big as (select s from sfx group by s having count(*) > 50), "
        "km as (select x.id, x.s from sfx x left join big using (s)"
        "  where big.s is null), "
        "sc2 as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
        "  as comps from (select count(*)::bigint as n_ from km group by s)), "
        "st as (select count(distinct a.id)::bigint as twins_covered"
        "  from km a join km d on d.s = a.s and d.id = a.id + 10000000"
        "  where a.id < 10000000), "
        "qg as (select distinct id, substr(name, g, 4) as gm"
        "  from recs, unnest(generate_series(1, length(name) - 3)) as t(g)), "
        "qbig as (select gm from qg group by gm having count(*) > 50), "
        "qkm as (select x.id, x.gm from qg x left join qbig using (gm)"
        "  where qbig.gm is null), "
        "qc as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
        "  as comps from (select count(*)::bigint as n_ from qkm group by gm)), "
        "qt as (select count(distinct a.id)::bigint as twins_covered"
        "  from qkm a join qkm d on d.gm = a.gm and d.id = a.id + 10000000"
        "  where a.id < 10000000), "
        f"nb as (select id, {nysiis_sql('name')} as k from recs), "
        "nc as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
        "  as comps from (select count(*)::bigint as n_ from nb group by k)), "
        "nt2 as (select sum(case when a.k = d.k then 1 else 0 end)::bigint"
        "  as twins_covered from nb a join nb d on d.id = a.id + 10000000"
        "  where a.id < 10000000), "
        f"cb as (select id, {caverphone_sql('name')} as k from recs), "
        "cc as (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint"
        "  as comps from (select count(*)::bigint as n_ from cb group by k)), "
        "ct as (select sum(case when a.k = d.k then 1 else 0 end)::bigint"
        "  as twins_covered from cb a join cb d on d.id = a.id + 10000000"
        "  where a.id < 10000000), "
        "afreq as (select gm, count(*)::bigint as df_ from qg group by gm), "
        "arank as (select q.id, q.gm,"
        "  row_number() over (partition by q.id order by f.df_, q.gm) as rn,"
        "  count(*) over (partition by q.id) as n"
        "  from qg q join afreq f using (gm)), "
        "apre as (select id, gm, n from arank"
        "  where rn <= n - ((n * 600 + 999) // 1000) + 1), "
        "acand as (select distinct a.id as id_a, b.id as id_b"
        "  from apre a join apre b on a.gm = b.gm and a.id < b.id"
        "  where 1000 * least(a.n, b.n) >= 600 * greatest(a.n, b.n)), "
        "ac as (select count(*)::bigint as comps,"
        "  coalesce(sum(case when id_a % 10000000 = id_b % 10000000"
        "    then 1 else 0 end), 0)::bigint as twins_covered from acand), "
        + _vb_sql_ctes("vb_", "recs", "name")
        + ", "
        "vc as (select count(*)::bigint as comps,"
        "  coalesce(sum(case when id_a % 10000000 = id_b % 10000000"
        "    then 1 else 0 end), 0)::bigint as twins_covered"
        "  from vb_cand), "
        # edjoin k=1 q=2: distinct bigrams -> df-ordered 3-gram prefixes ->
        # candidate equi-join -> exact levenshtein verify (comps = verified)
        "ejg as (select distinct id, substr(name, g2, 2) as gm2"
        "  from recs, unnest(generate_series(1, length(name) - 1)) as t(g2)), "
        "ejf as (select gm2, count(*)::bigint as df2 from ejg group by 1), "
        "ejr as (select g.id, g.gm2, row_number() over"
        "  (partition by g.id order by f.df2, g.gm2) as rn"
        "  from ejg g join ejf f using (gm2)), "
        "ejp as (select id, gm2 from ejr where rn <= 3), "
        "ejcand as (select distinct a.id as id_a, b.id as id_b"
        "  from ejp a join ejp b on a.gm2 = b.gm2 and a.id < b.id), "
        "ejv as (select c.id_a, c.id_b from ejcand c"
        "  join recs ra on ra.id = c.id_a join recs rb on rb.id = c.id_b"
        "  where abs(length(ra.name) - length(rb.name)) <= 1"
        "    and levenshtein(ra.name, rb.name) <= 1), "
        "ejs as (select count(*)::bigint as comps,"
        "  coalesce(sum(case when id_a % 10000000 = id_b % 10000000"
        "    then 1 else 0 end), 0)::bigint as twins_covered from ejv) "
        "select 'snm_w4' as scheme, comps, twins_covered, twins_total,"
        "  (1000000 * twins_covered) // twins_total as recall_ppm,"
        "  1000000 - ((1000000 * comps) // ((n * (n - 1)) // 2)) as rr_ppm"
        "  from snm1, tot "
        "union all "
        "select 'phonetic_soundex', pc.comps, pt.twins_covered, twins_total,"
        "  (1000000 * pt.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * pc.comps) // ((n * (n - 1)) // 2))"
        "  from pc, pt, tot "
        "union all "
        "select 'suffix_rev12_cap50', sc2.comps, st.twins_covered,"
        "  twins_total,"
        "  (1000000 * st.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * sc2.comps) // ((n * (n - 1)) // 2))"
        "  from sc2, st, tot "
        "union all "
        "select 'qgram4_cap50', qc.comps, qt.twins_covered,"
        "  twins_total,"
        "  (1000000 * qt.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * qc.comps) // ((n * (n - 1)) // 2))"
        "  from qc, qt, tot "
        "union all "
        "select 'phonetic_nysiis', nc.comps, nt2.twins_covered,"
        "  twins_total,"
        "  (1000000 * nt2.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * nc.comps) // ((n * (n - 1)) // 2))"
        "  from nc, nt2, tot "
        "union all "
        "select 'phonetic_caverphone', cc.comps, ct.twins_covered,"
        "  twins_total,"
        "  (1000000 * ct.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * cc.comps) // ((n * (n - 1)) // 2))"
        "  from cc, ct, tot "
        "union all "
        "select 'allpairs_qgram4_t600', ac.comps, ac.twins_covered,"
        "  twins_total,"
        "  (1000000 * ac.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * ac.comps) // ((n * (n - 1)) // 2))"
        "  from ac, tot "
        "union all "
        "select 'vector_srp48x8', vc.comps, vc.twins_covered,"
        "  twins_total,"
        "  (1000000 * vc.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * vc.comps) // ((n * (n - 1)) // 2))"
        "  from vc, tot "
        "union all "
        "select 'edjoin_k1_q2', ejs.comps, ejs.twins_covered,"
        "  twins_total,"
        "  (1000000 * ejs.twins_covered) // twins_total,"
        "  1000000 - ((1000000 * ejs.comps) // ((n * (n - 1)) // 2))"
        "  from ejs, tot"
    )


SQL_ER_BLOCKING_COMPARE = _sql_er_blocking_compare()


_LEVEL_FIELDS = {"lvl_name": 3, "lvl_seg": 2, "lvl_nation": 2}


def _linkage_level_vectors(spark, sf_dir):
    """Multi-level comparison vectors over the SNM candidate pairs:
    lvl_name ∈ {2: exact, 1: levenshtein ≤ 2 (the typo band — classic
    edit distance, exact integers on both engines), 0: different};
    seg/nation stay binary {1, 0}."""
    from xlink_spark.operators.linkage import sorted_neighborhood_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = sorted_neighborhood_pairs(recs, "key", ["name"], "id", window=4)
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
        F.col("seg").alias("seg_a"),
        F.col("nation").alias("nation_a"),
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("seg").alias("seg_b"),
        F.col("nation").alias("nation_b"),
    )
    return pairs.join(ra, "id_a").join(rb, "id_b").select(
        "id_a",
        "id_b",
        F.when(F.col("name_a") == F.col("name_b"), 2)
        .when(F.levenshtein("name_a", "name_b") <= 2, 1)
        .otherwise(0)
        .cast("long")
        .alias("lvl_name"),
        (F.col("seg_a") == F.col("seg_b")).cast("long").alias("lvl_seg"),
        (F.col("nation_a") == F.col("nation_b")).cast("long").alias("lvl_nation"),
        F.expr("pmod(id_a, 10000000) = pmod(id_b, 10000000)").alias("is_match"),
    )


def q_fs_level_weights(spark, sf_dir):
    """Multi-level gamma FS weights (linkage.match_weights_levels —
    Winkler's comparison-level generalization, the design production
    linkers like Splink expose): per-(field, level) m/u as exact bigint
    count ratios with per-cell Laplace smoothing; w_micro is the one
    float step (floor(1e6·ln) of a ratio of bigint products — margins
    measured ≥0.11 µ at both oracle sf). The fixture makes the payoff
    vivid: the
    name field's LEVEL 1 ("levenshtein ≤ 2 but not equal" — exactly the
    planted adjacent-typo band) carries a POSITIVE weight while exact
    equality (level 2 — the bump-collision artifact) is strongly
    negative: the three-level gamma learns the structure that binary
    agree/disagree inverts."""
    from xlink_spark.operators.linkage import match_weights_levels

    vec = _linkage_level_vectors(spark, sf_dir)
    return match_weights_levels(vec, _LEVEL_FIELDS, "is_match")


# level CTEs split off from the base so queries composing BOTH the binary
# and the level chains (cluster_repair) can attach them to one shared base
_SQL_LEVEL_TAIL = (
    """,
lvl as (select p.id_a, p.id_b,
   (case when ra.name = rb.name then 2
         when levenshtein(ra.name, rb.name) <= 2 then 1
         else 0 end)::bigint as lvl_name,
   (case when ra.seg = rb.seg then 1 else 0 end)::bigint as lvl_seg,
   (case when ra.nation = rb.nation then 1 else 0 end)::bigint as lvl_nation,
   ((p.id_a % 10000000) = (p.id_b % 10000000)) as is_match
  from pairs p join ranked ra on ra.id = p.id_a
               join ranked rb on rb.id = p.id_b),
lone as (select
  sum(case when is_match then 1 else 0 end)::bigint as nm,
  sum(case when not is_match then 1 else 0 end)::bigint as nn,
  sum(case when is_match and lvl_name = 0 then 1 else 0 end)::bigint as man0,
  sum(case when is_match and lvl_name = 1 then 1 else 0 end)::bigint as man1,
  sum(case when is_match and lvl_name = 2 then 1 else 0 end)::bigint as man2,
  sum(case when is_match and lvl_seg = 0 then 1 else 0 end)::bigint as mas0,
  sum(case when is_match and lvl_seg = 1 then 1 else 0 end)::bigint as mas1,
  sum(case when is_match and lvl_nation = 0 then 1 else 0 end)::bigint as mat0,
  sum(case when is_match and lvl_nation = 1 then 1 else 0 end)::bigint as mat1,
  sum(case when not is_match and lvl_name = 0 then 1 else 0 end)::bigint as uan0,
  sum(case when not is_match and lvl_name = 1 then 1 else 0 end)::bigint as uan1,
  sum(case when not is_match and lvl_name = 2 then 1 else 0 end)::bigint as uan2,
  sum(case when not is_match and lvl_seg = 0 then 1 else 0 end)::bigint as uas0,
  sum(case when not is_match and lvl_seg = 1 then 1 else 0 end)::bigint as uas1,
  sum(case when not is_match and lvl_nation = 0 then 1 else 0 end)::bigint as uat0,
  sum(case when not is_match and lvl_nation = 1 then 1 else 0 end)::bigint as uat1
 from lvl),
lw as (select f.field, f.level,
  (f.ma + 1)::bigint as m_num, (o.nm + f.nl)::bigint as m_den,
  (f.ua + 1)::bigint as u_num, (o.nn + f.nl)::bigint as u_den,
  floor(1e6 * ln(((f.ma + 1) * (o.nn + f.nl))::double
                 / ((f.ua + 1) * (o.nm + f.nl))::double))::bigint as w_micro
 from lone o, (select
    unnest(['lvl_name', 'lvl_name', 'lvl_name', 'lvl_seg', 'lvl_seg',
            'lvl_nation', 'lvl_nation']) as field,
    unnest([0, 1, 2, 0, 1, 0, 1]::bigint[]) as level,
    unnest([3, 3, 3, 2, 2, 2, 2]::bigint[]) as nl,
    unnest([man0, man1, man2, mas0, mas1, mat0, mat1]) as ma,
    unnest([uan0, uan1, uan2, uas0, uas1, uat0, uat1]) as ua from lone) f)
"""
)

_SQL_LEVEL_VEC = _SQL_LINKAGE_BASE + _SQL_LEVEL_TAIL

# per-pair level-score CTEs (melt + broadcast weight join), reusable on top
# of any with-clause that already carries lvl + lw
_SQL_LEVEL_SCORE_CORE = (
    "melted as (select id_a, id_b,"
    "  unnest(['lvl_name', 'lvl_seg', 'lvl_nation']) as field,"
    "  unnest([lvl_name, lvl_seg, lvl_nation]) as level from lvl), "
    "lsc as (select m.id_a, m.id_b, sum(w.w_micro)::bigint as score_micro"
    "  from melted m join lw w using (field, level) group by 1, 2)"
)

SQL_FS_LEVEL_WEIGHTS = (
    f"with {_SQL_LEVEL_VEC} "
    "select field, level, m_num, m_den, u_num, u_den, w_micro from lw"
)


def q_fs_level_scores(spark, sf_dir):
    """Per-pair FS scores under the multi-level gammas
    (linkage.fs_score_levels): Σ over fields of the weight at the
    OBSERVED level, exact bigint micro-units via the melt + broadcast
    weight-table join. On this fixture the level-1 typo band scores the
    planted twins ABOVE the bump-collision exact-name pairs — the
    separation binary FS cannot express."""
    from xlink_spark.operators.linkage import (
        fs_score_levels,
        match_weights_levels,
    )

    vec = _linkage_level_vectors(spark, sf_dir)
    w = match_weights_levels(vec, _LEVEL_FIELDS, "is_match")
    sc = fs_score_levels(vec, w, list(_LEVEL_FIELDS), ["id_a", "id_b"])
    return sc.join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    ).select("id_a", "id_b", "score_micro", "is_match")


SQL_FS_LEVEL_SCORES = (
    f"with {_SQL_LEVEL_VEC}, {_SQL_LEVEL_SCORE_CORE} "
    "select s.id_a, s.id_b, s.score_micro, l.is_match "
    "from lsc s join lvl l using (id_a, id_b)"
)


def q_fs_tf_scores(spark, sf_dir):
    """Term-frequency-adjusted FS scores (linkage.tf_value_weights +
    tf_adjust_scores — Winkler's TF adjustment, Splink's
    `tf_adjustment`): pairs agreeing on name swap the GLOBAL agreement
    weight for the value-specific one, w_tf(v) = ln(m·n / (m_den·tf_v))
    micro-floored — agreement on a doubleton bump-collision value is
    worth far less than agreement on a unique name, which the global u
    cannot see. All-bigint once the two floors exist (margins measured
    ≥0.55 µ at both oracle sf); the value join is a narrow equi-join
    (head-value skew = AQE's skew-split case)."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        tf_adjust_scores,
        tf_value_weights,
    )

    recs = _linkage_records(spark, sf_dir)
    # vec feeds the weights collect, the score chain, and the prior/join
    # consumers — persist once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    tfw = tf_value_weights(recs, "name", w, "agree_name")
    agreeing = (
        vec.filter("agree_name")
        .join(
            recs.select(
                F.col("id").alias("id_a"), F.col("name").alias("value")
            ),
            "id_a",
        )
        .select("id_a", "id_b", "value")
    )
    return tf_adjust_scores(
        scores, agreeing, tfw, w, "agree_name", ["id_a", "id_b"]
    )


SQL_FS_TF_SCORES = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "tf as (select name as value, count(*)::bigint as tf_cnt"
    "  from recs group by 1), "
    "ntot as (select count(*)::bigint as n_total from recs), "
    "wn as (select m_num, m_den, w_agree_micro from w"
    "  where field = 'agree_name'), "
    "tfw as (select value, tf_cnt,"
    "  floor(1e6 * ln((m_num * n_total)::double"
    "                 / (m_den * tf_cnt)::double))::bigint as w_tf_micro"
    "  from tf, ntot, wn), "
    "agr as (select v.id_a, v.id_b, ra.name as value from vec v"
    "  join ranked ra on ra.id = v.id_a where v.agree_name), "
    "delta as (select a.id_a, a.id_b, t.w_tf_micro,"
    "  (t.w_tf_micro - wn.w_agree_micro)::bigint as d"
    "  from agr a join tfw t using (value), wn) "
    "select s.id_a, s.id_b, s.score_micro,"
    "  (s.score_micro + coalesce(d.d, 0))::bigint as score_tf_micro,"
    "  d.w_tf_micro "
    "from sc s left join delta d using (id_a, id_b)"
)


def q_fs_match_probabilities(spark, sf_dir):
    """Posterior match probabilities (linkage.match_posteriors) — the FS
    score mapped to P(match | evidence) through Bayes' rule with the
    labeled-prior odds, the user-facing number a clerical reviewer or a
    downstream consumer actually reads. posterior_ppm = floor(1e6 ·
    BF/(1+BF)), BF = e^score · (nm+1)/(nn+1) — the prior is the same
    Laplace-smoothed exact bigint ratio the weights use, carried as a
    broadcast one-row frame so plan construction stays action-free. The
    float chain (exp → multiply → divide → floor) is shared
    operation-for-operation with the oracle; margins measured ≥0.051
    ppm-units at both oracle sf — ~10⁸ × exp()'s cross-engine ulp."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_posteriors,
        match_weights,
    )

    # vec feeds the weights collect, the score chain, and the prior/join
    # consumers — persist once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    sc = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    prior = vec.agg(
        (
            F.sum(F.when(F.col("is_match"), 1).otherwise(0)) + F.lit(1)
        ).cast("long").alias("prior_num"),
        (F.count(F.lit(1)) + F.lit(2)).cast("long").alias("prior_den"),
    )
    post = match_posteriors(sc, prior)
    return post.join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    ).select("id_a", "id_b", "score_micro", "posterior_ppm", "is_match")


_SQL_POSTERIOR_EXPR = (
    "floor((1000000e0 * (exp(s.score_micro::double / 1000000e0)"
    " * (prior_num::double / (prior_den - prior_num)::double)))"
    " / (1e0 + (exp(s.score_micro::double / 1000000e0)"
    " * (prior_num::double / (prior_den - prior_num)::double))))::bigint"
)

SQL_FS_MATCH_PROBABILITIES = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "pr as (select"
    "  (sum(case when is_match then 1 else 0 end) + 1)::bigint as prior_num,"
    "  (count(*) + 2)::bigint as prior_den from vec) "
    "select s.id_a, s.id_b, s.score_micro,"
    f"  {_SQL_POSTERIOR_EXPR} as posterior_ppm,"
    "  v.is_match "
    "from sc s join vec v using (id_a, id_b), pr"
)


def q_fs_calibration(spark, sf_dir):
    """Calibration table for the posterior probabilities — the diagnostic
    a deployment reads before trusting P(match) downstream: posteriors
    binned into deciles (bin = posterior_ppm div 100000, pure integer),
    per-bin pair count, labeled-match count, and the observed match rate
    in exact integer ppm. Bins where observed_ppm tracks the bin's
    midpoint are calibrated — on this fixture they do (e.g. sf0.001:
    bin 3 → 351,724 ppm observed, bin 9 → 916,666), which is itself the
    measured claim: the smoothed-count FS posterior is honest here.
    All-bigint on top of the already-margin-checked posterior floor —
    no new float steps."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_posteriors,
        match_weights,
    )

    # vec feeds the weights collect, the score chain, and the prior/join
    # consumers — persist once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    sc = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    prior = vec.agg(
        (
            F.sum(F.when(F.col("is_match"), 1).otherwise(0)) + F.lit(1)
        ).cast("long").alias("prior_num"),
        (F.count(F.lit(1)) + F.lit(2)).cast("long").alias("prior_den"),
    )
    post = match_posteriors(sc, prior).join(
        vec.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    )
    return (
        post.groupBy(
            F.expr("posterior_ppm div 100000").cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("is_match"), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
        )
        .select(
            "bin",
            "n_pairs",
            "n_match",
            F.expr("(1000000 * n_match) div n_pairs").alias("observed_ppm"),
        )
    )


SQL_FS_CALIBRATION = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "pr as (select"
    "  (sum(case when is_match then 1 else 0 end) + 1)::bigint as prior_num,"
    "  (count(*) + 2)::bigint as prior_den from vec), "
    "post as (select s.id_a, s.id_b,"
    f"  {_SQL_POSTERIOR_EXPR} as posterior_ppm"
    "  from sc s, pr), "
    "binned as (select (p.posterior_ppm // 100000)::bigint as bin,"
    "  count(*)::bigint as n_pairs,"
    "  sum(case when v.is_match then 1 else 0 end)::bigint as n_match"
    "  from post p join vec v using (id_a, id_b) group by 1) "
    "select bin, n_pairs, n_match,"
    "  ((1000000 * n_match) // n_pairs)::bigint as observed_ppm "
    "from binned"
)


def q_cluster_cohesion(spark, sf_dir):
    """Cluster-cohesion audit of the transitive ER clusters — the check
    that catches chain merges: connected components link anything with a
    PATH of ≥0-score edges, so a cluster can contain candidate pairs the
    scorer itself rejected. Per multi-member cluster with scored internal
    pairs: size, the number of internal candidate pairs, and the exact
    min/sum of their FS scores — min_score_micro < 0 rows are precisely
    the clusters glued through transitivity despite an internally
    rejected pair — the fixture's bump-collision chains produce MANY
    (sf0.001: 25 of 62 audited clusters, the largest a 14-member chain),
    exactly the pathology this audit exists to surface. All-bigint over
    the already-oracled scores + components — no new float steps."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    # vec feeds the weights collect, the score chain, and the prior/join
    # consumers — persist once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    recs = _linkage_records(spark, sf_dir).select("id")
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        "id", F.coalesce(F.col("component"), F.col("id")).alias("cluster")
    )
    sizes = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    internal = (
        scores.join(
            asg.select(F.col("id").alias("id_a"), F.col("cluster").alias("_ca")),
            "id_a",
        )
        .join(
            asg.select(F.col("id").alias("id_b"), F.col("cluster").alias("_cb")),
            "id_b",
        )
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored_pairs"),
            F.min("score_micro").cast("long").alias("min_score_micro"),
            F.sum("score_micro").cast("long").alias("sum_score_micro"),
        )
    )
    return internal.join(sizes, "cluster").select(
        "cluster", "size", "n_scored_pairs", "min_score_micro",
        "sum_score_micro",
    )


SQL_CLUSTER_COHESION = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select r.id, coalesce(c.component, r.id) as cluster"
    "  from recs r left join comp c on c.node = r.id), "
    "sizes as (select cluster, count(*)::bigint as size from asg group by 1), "
    "internal as (select a.cluster,"
    "  count(*)::bigint as n_scored_pairs,"
    "  min(s.score_micro)::bigint as min_score_micro,"
    "  sum(s.score_micro)::bigint as sum_score_micro"
    "  from sc s join asg a on a.id = s.id_a"
    "            join asg b on b.id = s.id_b"
    "  where a.cluster = b.cluster group by 1) "
    "select i.cluster, z.size, i.n_scored_pairs, i.min_score_micro,"
    "  i.sum_score_micro "
    "from internal i join sizes z using (cluster)"
)


def q_cluster_repair(spark, sf_dir):
    """Escalation repair (linkage.repair_chain_merges) of the chain-merged
    ER clusters cluster_cohesion diagnoses: base clustering from the
    3-field binary FS scores (sf0.001: 25 of 62 audited clusters carry an
    interior rejected pair), flagged components re-adjudicated by a
    4-field FS that adds the ident column (account balance — a stable, near-unique identifier) — the stable unique identifier
    the corruption never touches. The cheap fields CANNOT fix these
    clusters: their glue edges and the planted twins occupy the same
    gamma cells (measured — both classes sit at levenshtein(name) = 1
    with chance seg/nation agreement, so level gammas and TF adjustment
    leave every edge in place). The ident field separates them exactly,
    at the cost such a field always carries (licensing/latency/PII) —
    which is why it is consulted ONLY for edges interior to flagged
    clusters, the audit-grain fraction of the corpus. Unflagged
    components pass through bit-identically; all-bigint on top of the
    margin-checked weight floors."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        repair_chain_merges,
    )

    # both comparison-vector chains are consumed twice each (the
    # match_weights collect + the score consumers) — persist them once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    vec4 = hold(_linkage_vectors4(spark, sf_dir))
    w4 = match_weights(vec4, _FIELDS4, "is_match")
    strong = fs_score(vec4, w4, _FIELDS4, ["id_a", "id_b"])
    return repair_chain_merges(scores, strong)


_SQL_REPAIR_CORE = (
    # flagged components: any interior pair the binary scorer rejected
    "flagged as (select distinct ca.component as flag"
    "  from sc s join comp ca on ca.node = least(s.id_a, s.id_b)"
    "            join comp cb on cb.node = greatest(s.id_a, s.id_b)"
    "  where s.score_micro < 0 and ca.component = cb.component), "
    # strong verdict per canonical pair (min = conservative on dups)
    "strong as (select least(id_a, id_b) as lo, greatest(id_a, id_b) as hi,"
    "  min(score_micro)::bigint as t from sc4 group by 1, 2), "
    # surviving edges: untouched outside flagged components, judged inside
    "eg1 as (select least(e.src, e.dst) as lo, greatest(e.src, e.dst) as hi"
    "  from eg e join comp c on c.node = e.src"
    "  left join flagged f on f.flag = c.component"
    "  left join strong l on l.lo = least(e.src, e.dst)"
    "                    and l.hi = greatest(e.src, e.dst)"
    "  where f.flag is null or coalesce(l.t >= 0, false)), "
    "und2 as (select lo as src, hi as dst from eg1"
    "  union select hi, lo from eg1), "
    "walk2 (node, reach) as ("
    "  select src as node, dst as reach from und2"
    "  union"
    "  select wk.node, u.dst as reach"
    "  from walk2 wk join und2 u on u.src = wk.reach"
    "  where u.dst <> wk.node), "
    "comp2 as (select node, least(node, min(reach)) as component"
    "  from walk2 group by node)"
)


SQL_CLUSTER_REPAIR = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_STRONG4
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    + _SQL_REPAIR_CORE
    + " "
    "select n.node, coalesce(c2.component, n.node) as component,"
    "  (f.flag is not null) as was_flagged "
    "from comp n "
    "left join flagged f on f.flag = n.component "
    "left join comp2 c2 on c2.node = n.node"
)


def q_repair_f1_gain(spark, sf_dir):
    """Pairwise F1 of the ER clusters BEFORE and AFTER escalation repair —
    the gauge that shows the repair pays on the labeled fixture: the
    base (binary-FS) clustering's chain merges are false-positive pairs,
    so precision (and F1) must rise when the level comparator splits
    them; recall records what the stricter bar costs. Exact bigint
    counts and integer-floor metrics end to end (linkage.pairwise_f1 ×2
    over the same labeled SNM candidate pairs)."""
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import (
        fs_score,
        match_weights,
        pairwise_f1,
        repair_chain_merges,
    )

    # vec feeds three consumers (weights collect, scores, the labeled
    # pairs), vec4 two — persist both once (this query replays the whole
    # repair arc twice for before/after F1, so unpersisted chains were
    # re-executed ~6x)
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    vec4 = hold(_linkage_vectors4(spark, sf_dir))
    w4 = match_weights(vec4, _FIELDS4, "is_match")
    strong = fs_score(vec4, w4, _FIELDS4, ["id_a", "id_b"])

    base = connected_components(
        scores.filter(F.col("score_micro") >= 0).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
    )
    repaired = repair_chain_merges(scores, strong)
    pairs = vec.select("id_a", "id_b", "is_match")
    f_base = pairwise_f1(
        base, pairs, id_col="node", cluster_col="component"
    ).select(F.lit("base").alias("stage"), "*")
    f_rep = pairwise_f1(
        repaired, pairs, id_col="node", cluster_col="component"
    ).select(F.lit("repaired").alias("stage"), "*")
    return f_base.unionByName(f_rep)


SQL_REPAIR_F1_GAIN = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_STRONG4
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    + _SQL_REPAIR_CORE
    + ", "
    "cnt as ("
    "  select 'base' as stage, count(*)::bigint as n_pairs,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               = coalesce(cb.component, v.id_b)"
    "             and v.is_match then 1 else 0 end)::bigint as tp,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               = coalesce(cb.component, v.id_b)"
    "             and not v.is_match then 1 else 0 end)::bigint as fp,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               <> coalesce(cb.component, v.id_b)"
    "             and v.is_match then 1 else 0 end)::bigint as fn"
    "  from vec v left join comp ca on ca.node = v.id_a"
    "             left join comp cb on cb.node = v.id_b"
    "  union all"
    "  select 'repaired', count(*)::bigint,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               = coalesce(cb.component, v.id_b)"
    "             and v.is_match then 1 else 0 end)::bigint,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               = coalesce(cb.component, v.id_b)"
    "             and not v.is_match then 1 else 0 end)::bigint,"
    "    sum(case when coalesce(ca.component, v.id_a)"
    "               <> coalesce(cb.component, v.id_b)"
    "             and v.is_match then 1 else 0 end)::bigint"
    "  from vec v left join comp2 ca on ca.node = v.id_a"
    "             left join comp2 cb on cb.node = v.id_b) "
    "select stage, n_pairs, tp, fp, fn,"
    "  case when tp + fp > 0 then (tp * 1000000) // (tp + fp) end::bigint"
    "    as precision_micro,"
    "  case when tp + fn > 0 then (tp * 1000000) // (tp + fn) end::bigint"
    "    as recall_micro,"
    "  case when 2 * tp + fp + fn > 0 then"
    "    (2 * tp * 1000000) // (2 * tp + fp + fn) end::bigint as f1_micro "
    "from cnt"
)


def q_qgram_blocks(spark, sf_dir):
    """Q-gram blocking (linkage.qgram_blocking_pairs — Baxter/Christen's
    bigram-indexing family) over the linkage names with q=4 and a
    stop-gram purge at 50: candidate pairs sharing any kept 4-gram, with
    the exact shared/total gram counts as the pair weight. Pure
    string/integer ops — no margins. The gauge is honest about the
    method's frontier position on ID-like tail-corrupted names: the
    informative grams cluster around the corrupted last character, so
    twin recall is ~87% at sf0.001 rising with key width at larger sf
    (measured) — between Soundex's recall-perfect/reduction-free corner
    and suffix blocking's 100% on this fixture, which is exactly why a
    deployment runs `er_blocking_compare` first."""
    from xlink_spark.operators.linkage import qgram_blocking_pairs

    recs = _linkage_records(spark, sf_dir)
    pairs = qgram_blocking_pairs(
        recs, "name", "id", q=4, max_block_size=50
    )
    return pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        "n_a",
        "n_b",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


SQL_QGRAM_BLOCKS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "grams as (select distinct id, substr(name, g, 4) as gram"
    "  from recs, unnest(generate_series(1, length(name) - 3)) as t(g)), "
    "gkept as (select gram from grams group by 1 having count(*) <= 50), "
    "gkm as (select g.id, g.gram from grams g join gkept using (gram)), "
    "gcnt as (select id, count(*)::bigint as n from gkm group by 1), "
    "gp as (select a.id as id_a, b.id as id_b, count(*)::bigint as n_shared"
    "  from gkm a join gkm b on a.gram = b.gram and a.id < b.id"
    "  group by 1, 2) "
    "select p.id_a, p.id_b, p.n_shared, ca.n as n_a, cb.n as n_b,"
    "  (p.id_a % 10000000) = (p.id_b % 10000000) as is_twin "
    "from gp p join gcnt ca on ca.id = p.id_a"
    "  join gcnt cb on cb.id = p.id_b"
)


# ------------------------------------------------------------------ registry


def q_block_split_plan(spark, sf_dir):
    """BlockSplit comparison-space plan (skew.block_split_plan — Kolb,
    Thor & Rahm, ICDE 2012, the Dedoop load balancer) over the linkage
    corpus blocked by market segment: the head-heavy key whose biggest
    block would otherwise ride ONE reducer. Per block: exact size,
    total comparisons, the isqrt(target) chunk width, chunk/task counts
    and the exact max-task size (ragged last chunk accounted). Pure
    bigint arithmetic end to end — the plan an independent engine must
    reproduce bit-for-bit before the pair generator is trusted."""
    from xlink_spark.operators.skew import block_split_plan

    recs = _linkage_records(spark, sf_dir)
    return block_split_plan(
        recs, block_col="seg", id_col="id", max_pairs_per_task=2000
    )


SQL_BLOCK_SPLIT_PLAN = (
    f"with {_SQL_LINKAGE_BASE}, "
    "sz as (select seg as block, count(*)::bigint as n from recs group by 1) "
    "select block, n, (n * (n - 1) // 2)::bigint as pairs_total, "
    " 44::bigint as chunk_width, "
    " ((n + 43) // 44)::bigint as k_chunks, "
    " (((n + 43) // 44) * (((n + 43) // 44) + 1) // 2)::bigint as n_tasks, "
    " (case when (n + 43) // 44 = 1 then n * (n - 1) // 2 "
    "  when (n + 43) // 44 = 2 then greatest(44 * 43 // 2, 44 * (n - 44)) "
    "  else 44 * 44 end)::bigint as max_task_pairs "
    "from sz"
)


def q_block_split_pairs(spark, sf_dir):
    """BlockSplit pair generation (skew.block_split_pairs) on the
    nation<2 slice of the linkage corpus blocked by segment, target 80
    comparisons/task (chunk width 8): the naive within-block quadratic
    re-keyed over (block, task_i, task_j) so every reducer key carries
    <= 80 comparisons. The row set hash-checks BOTH halves of the
    BlockSplit guarantee: the pair set equals plain key-equality
    blocking, and each pair sits in exactly the task its two rank-chunk
    indices name."""
    from xlink_spark.operators.skew import block_split_pairs

    recs = _linkage_records(spark, sf_dir).filter(F.col("nation") < 2)
    return block_split_pairs(
        recs, block_col="seg", id_col="id", max_pairs_per_task=80
    ).select(
        "id_a",
        "id_b",
        "block",
        F.col("task_i").cast("long").alias("task_i"),
        F.col("task_j").cast("long").alias("task_j"),
    )


SQL_BLOCK_SPLIT_PAIRS = (
    f"with {_SQL_LINKAGE_BASE}, "
    "rws as (select seg as block, id from recs where nation < 2), "
    "rk as (select block, id, "
    "  row_number() over (partition by block order by id) as rn, "
    "  count(*) over (partition by block) as n from rws), "
    "ch as (select block, id, rn, (rn - 1) // 8 as c, "
    "  (n + 7) // 8 as k from rk), "
    "ex as (select block, id, rn, c, "
    "  least(c, x) as ti, greatest(c, x) as tj "
    "  from ch, unnest(generate_series(0, (k - 1)::int)) as t(x)) "
    "select a.id as id_a, b.id as id_b, a.block, "
    "  a.ti::bigint as task_i, a.tj::bigint as task_j "
    "from ex a join ex b on a.block = b.block and a.ti = b.ti "
    "  and a.tj = b.tj and a.c = a.ti and b.c = b.tj "
    "  and (a.ti < a.tj or a.rn < b.rn)"
)




def q_progressive_snm(spark, sf_dir):
    """Progressive / pay-as-you-go ER curve (linkage.progressive_snm_curve
    — Whang, Marmaros & Garcia-Molina, ICDE 2013) over the linkage corpus:
    per SNM window 2..8, the new pairs bought by that widening, the new
    true matches among them, and cumulative recall against the exact
    pairwise denominator — the table a deployment reads to pick the
    window where marginal recall stops paying for the comparisons. One
    widest-window pair pass, all exact integers."""
    from xlink_spark.operators.linkage import progressive_snm_curve

    recs = _linkage_records(spark, sf_dir).withColumn(
        "entity", F.pmod(F.col("id"), F.lit(10000000))
    )
    return progressive_snm_curve(
        recs, "key", ["name"], "id", max_window=8, entity_col="entity"
    )


SQL_PROGRESSIVE_SNM = (
    f"with {_SQL_LINKAGE_BASE}, "
    "p7 as (select a.id as id_a, b.id as id_b, (b.rank - a.rank) as dist"
    "  from ranked a join ranked b"
    "  on b.rank > a.rank and b.rank - a.rank <= 7), "
    "pd as (select dist, count(*)::bigint as new_pairs,"
    "  sum(case when id_a % 10000000 = id_b % 10000000 then 1 else 0 end)"
    "    ::bigint as new_matches"
    "  from p7 group by 1), "
    "fr as (select unnest(generate_series(1, 7))::bigint as dist), "
    "base as (select f.dist, coalesce(p.new_pairs, 0)::bigint as new_pairs,"
    "  coalesce(p.new_matches, 0)::bigint as new_matches"
    "  from fr f left join pd p using (dist)), "
    "tr as (select sum(n * (n - 1) // 2)::bigint as true_pairs from"
    "  (select count(*)::bigint as n from recs group by id % 10000000)), "
    "cm as (select dist, new_pairs, new_matches,"
    "  sum(new_pairs) over (order by dist)::bigint as cum_pairs,"
    "  sum(new_matches) over (order by dist)::bigint as cum_matches"
    "  from base) "
    "select (dist + 1)::bigint as window, new_pairs, new_matches,"
    "  cum_pairs, cum_matches, true_pairs,"
    "  (case when true_pairs > 0"
    "   then cum_matches * 1000000 // true_pairs"
    "   else 1000000 end)::bigint as recall_micro "
    "from cm, tr"
)




def q_vector_blocks(spark, sf_dir):
    """LSH / vector-based blocking (linkage.vector_blocking_pairs — the
    "LSH blocking" family of Steorts, Ventura, Sadinle & Fienberg 2014)
    over the clean ∪ bumped-last-char part-name corpus (p_partkey % 8
    slice): hashed 3-gram count vectors (feature hashing, dim 64), 48
    md5-derived ±1 SRP planes in 6 bands of 8 bits, candidates from the
    (band, code) equi-join, verified by the EXACT integer cosine test
    dot²·10⁶ ≥ 750²·|a|²·|b|². Everything — planes, hashes, sums, the
    squared-cosine acceptance — is bigint arithmetic both engines
    reproduce bit-for-bit; the riding is_twin flag measures the family's
    honest recall/fan-out point on this corpus next to the phonetic and
    q-gram gauges."""
    from xlink_spark.operators.linkage import vector_blocking_pairs

    part = spark.read.parquet(_T(sf_dir, "part"))
    base = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("nm"),
    )
    dirty = base.select(
        (F.col("id") + 10000000).alias("id"),
        F.expr(
            "concat(substring(nm, 1, length(nm) - 1),"
            " char(ascii(substring(nm, length(nm), 1)) + 1))"
        ).alias("nm"),
    )
    # the part parquet is 1-2 input splits: spread records across cores
    # BEFORE the gram/md5 scan (the flagship input idiom — at real input
    # scale the scan has natural splits and this is a cheap reshuffle)
    recs = (
        base.unionByName(dirty)
        .filter(F.pmod(F.col("id"), F.lit(8)) == 0)
        .repartition(spark.sparkContext.defaultParallelism, "id")
    )
    pairs = vector_blocking_pairs(
        recs, "nm", "id", q=3, dim=64, planes=48, band_rows=8,
        threshold_ppt=750,
        # the (id, d, v) gram-vector frame feeds four consumers (plane
        # sums, norms, both verification sides) — materialize it once
        # instead of re-running the gram scan per consumer. Neutral at
        # sf0.1 (the fixture's gram scan is ~0.5s warm; the checkpoint
        # job costs about what the three extra scans did) but the
        # at-scale mode per the operator's own contract: the scan is a
        # corpus pass at deployment sizes.
        materialize=True,
    )
    return pairs.withColumn(
        "is_twin",
        F.pmod(F.col("id_a"), F.lit(10000000))
        == F.pmod(F.col("id_b"), F.lit(10000000)),
    )


def _vector_blocks_sql() -> str:
    """DuckDB replica of q_vector_blocks: the same md5 plane matrix,
    integer plane sums, 6x8 banding, and squared-cosine verification."""
    t2 = 750 * 750
    return (
        "with base as (select p_partkey::bigint as id, p_name as nm"
        "  from part), "
        "dirty as (select id + 10000000 as id,"
        "  substr(nm, 1, length(nm) - 1)"
        "    || chr(ascii(substr(nm, length(nm), 1)) + 1) as nm from base), "
        "recs as (select * from base union all select * from dirty), "
        + _vb_sql_ctes("", "recs", "nm", where_sql=" where id % 8 = 0")
        + ", "
        "norms as (select id, sum(v * v)::bigint as norm from vec"
        "  group by 1), "
        "dots as (select c.id_a, c.id_b, sum(a.v * b.v)::bigint as dot"
        "  from cand c join vec a on a.id = c.id_a"
        "  join vec b on b.id = c.id_b and b.d = a.d group by 1, 2) "
        "select d.id_a, d.id_b, d.dot, na.norm as norm_a,"
        "  nb.norm as norm_b,"
        "  (d.dot * d.dot * 1000000 // (na.norm * nb.norm))::bigint"
        "    as cos2_ppm,"
        "  (d.id_a % 10000000) = (d.id_b % 10000000) as is_twin "
        "from dots d join norms na on na.id = d.id_a"
        "  join norms nb on nb.id = d.id_b "
        f"where d.dot > 0 and d.dot * d.dot * 1000000"
        f" >= {t2} * na.norm * nb.norm"
    )


SQL_VECTOR_BLOCKS = _vector_blocks_sql()




def q_iterative_merge_er(spark, sf_dir):
    """Iterative merge-based ER (linkage.iterative_merge_er — the Swoosh
    family, Benjelloun et al. VLDB J. 2009, union merge) on a
    deterministic 3-source evidence corpus built from customers: source A
    holds (name, alias; k1), source B (alias; k1, k2), source C (name;
    k2). A and B match in round 1 (alias + k1); C matches NOTHING
    pairwise — it reaches A's profile only AFTER the round-1 union merge
    contributes B's k2 (name via A, key via B), the exact capability
    one-shot matching + transitive closure cannot express. An md5-chosen
    third of customers lose source B, so their C stays a separate entity
    — both fates ride the same output. The oracle unrolls every round:
    blocking self-join, all-fields overlap count, symmetric min-
    propagation CC, and the distinct relabel that IS union merge in long
    form."""
    from xlink_spark.operators.linkage import iterative_merge_er

    cust = spark.read.parquet(_T(sf_dir, "customer")).select(
        F.col("c_custkey").cast("long").alias("i"),
        F.col("c_name").alias("nm"),
    )
    base = cust.select(
        "i",
        "nm",
        F.expr("substring(md5(nm), 1, 8)").alias("al"),
        F.expr("concat('k1:', cast(i as string))").alias("k1"),
        F.expr("concat('k2:', cast(i as string))").alias("k2"),
        F.expr(
            "pmod(cast(conv(substring(md5(nm), 3, 2), 16, 10) as bigint),"
            " 3) = 0"
        ).alias("dropb"),
    )
    a = base.select(
        F.col("i").alias("id"),
        F.expr("stack(3, 'names', nm, 'names', al, 'keys', k1)"
               " as (fld, val)"),
    )
    b = base.filter(~F.col("dropb")).select(
        (F.col("i") + 10000000).alias("id"),
        F.expr("stack(3, 'names', al, 'keys', k1, 'keys', k2)"
               " as (fld, val)"),
    )
    c = base.select(
        (F.col("i") + 20000000).alias("id"),
        F.expr("stack(2, 'names', nm, 'keys', k2) as (fld, val)"),
    )
    vals = a.unionByName(b).unionByName(c)
    return iterative_merge_er(vals, ["names", "keys"], max_rounds=4)


def _swoosh_minprop_sql(prefix: str, src: str, rounds: int) -> str:
    """Namespaced unrolled pointer-jumping min-propagation (the
    _minprop_rounds_sql shape) reading symmetric edges from ``src`` and
    emitting ``{prefix}w{rounds}`` (node, comp)."""
    blocks = [
        f"{prefix}w0 as materialized (select src as node,"
        f"  least(src, min(dst)) as comp from {src} group by src), "
    ]
    for i in range(1, rounds + 1):
        pr = i - 1
        blocks.append(
            f"{prefix}w{i} as materialized ("
            f"  select node, min(comp) as comp from ("
            f"  select node, comp from {prefix}w{pr}"
            f"  union all"
            f"  select u.src as node, w.comp from {src} u"
            f"    join {prefix}w{pr} w on w.node = u.dst"
            f"  union all"
            f"  select w.node, w2.comp from {prefix}w{pr} w"
            f"    join {prefix}w{pr} w2 on w2.node = w.comp"
            f") group by node), "
        )
    return "".join(blocks)


def _iterative_merge_er_sql(outer_rounds: int = 4, minprop: int = 6) -> str:
    parts = [
        "with cust as (select c_custkey::bigint as i, c_name as nm"
        "  from customer), "
        "base as (select i, nm, substr(md5(nm), 1, 8) as al,"
        "  'k1:' || i::varchar as k1, 'k2:' || i::varchar as k2,"
        "  ((('0x' || substr(md5(nm), 3, 2))::bigint % 3) = 0) as dropb"
        "  from cust), "
        "v0 as ("
        "  select i as id, 'names' as fld, nm as val from base"
        "  union all select i, 'names', al from base"
        "  union all select i, 'keys', k1 from base"
        "  union all select i + 10000000, 'names', al from base"
        "    where not dropb"
        "  union all select i + 10000000, 'keys', k1 from base"
        "    where not dropb"
        "  union all select i + 10000000, 'keys', k2 from base"
        "    where not dropb"
        "  union all select i + 20000000, 'names', nm from base"
        "  union all select i + 20000000, 'keys', k2 from base), "
        "vals0 as materialized (select distinct id as eid, fld, val"
        "  from v0), "
        "mem0 as materialized (select distinct eid, eid as member_id"
        "  from vals0), "
    ]
    for r in range(1, outer_rounds + 1):
        pr = r - 1
        parts.append(
            f"blk{r} as (select eid, val from vals{pr}"
            f"  where fld = 'names'), "
            f"cand{r} as (select distinct x.eid as ea, y.eid as eb"
            f"  from blk{r} x join blk{r} y"
            f"  on y.val = x.val and x.eid < y.eid), "
            f"ed{r} as materialized (select c.ea as src, c.eb as dst from"
            f"  cand{r} c join vals{pr} a on a.eid = c.ea"
            f"  join vals{pr} b on b.eid = c.eb"
            f"    and b.fld = a.fld and b.val = a.val"
            f"  group by 1, 2 having count(distinct a.fld) = 2), "
            f"mu{r} as (select src, dst from (select src, dst from ed{r}"
            f"  union select dst, src from ed{r})), "
            + _swoosh_minprop_sql(f"r{r}", f"mu{r}", minprop)
            + f"comp{r} as (select node, comp from r{r}w{minprop}), "
            f"vals{r} as materialized (select distinct"
            f"  coalesce(c.comp, v.eid) as eid, v.fld, v.val"
            f"  from vals{pr} v left join comp{r} c on c.node = v.eid), "
            f"mem{r} as materialized (select distinct"
            f"  coalesce(c.comp, m.eid) as eid, m.member_id"
            f"  from mem{pr} m left join comp{r} c on c.node = m.eid), "
        )
    er = " + ".join(
        f"(case when (select count(*) from ed{r}) > 0 then 1 else 0 end)"
        for r in range(1, outer_rounds + 1)
    )
    parts.append(
        f"ru as (select ({er})::bigint as rounds_used,"
        f"  ((select count(*) from ed{outer_rounds}) = 0) as converged) "
        f"select m.eid::bigint as entity_id,"
        f"  m.member_id::bigint as member_id,"
        f"  ru.rounds_used, ru.converged "
        f"from mem{outer_rounds} m, ru"
    )
    return "".join(parts)


SQL_ITERATIVE_MERGE_ER = _iterative_merge_er_sql()




def q_collective_er(spark, sf_dir):
    """Collective relational ER (linkage.collective_er — Bhattacharya &
    Getoor, TKDD 2007) on a deterministic co-occurrence corpus built from
    customers: per customer, a distinctive pair (attr 10⁶ — links round
    1) and an ambiguous pair (attr 4·10⁵ — below threshold alone) whose
    members each co-occur with one member of the distinctive pair. Round
    2's shared-neighbor-CLUSTER boost (7·10⁵ per shared cluster) lifts
    the ambiguous pair over the threshold — relational evidence
    propagating through the round-1 merge, which one-shot attribute
    scoring cannot express. An md5-chosen third of customers get a
    below-threshold distinctive pair (3·10⁵), so neither pair ever
    links there — both fates ride the output. The oracle unrolls all 3
    rounds: neighbor-cluster map, shared-cluster count, monotone edge
    accumulation, and per-round min-propagation CC."""
    from xlink_spark.operators.linkage import collective_er

    cust = spark.read.parquet(_T(sf_dir, "customer")).select(
        F.col("c_custkey").cast("long").alias("i"),
        F.col("c_name").alias("nm"),
    )
    base = cust.select(
        "i",
        F.expr(
            "case when pmod(cast(conv(substring(md5(nm), 5, 2), 16, 10)"
            " as bigint), 3) = 0 then 300000 else 1000000 end"
        ).cast("long").alias("bstrong"),
    )
    pairs = base.select(
        F.col("i").alias("id_a"),
        (F.col("i") + 10000000).alias("id_b"),
        F.col("bstrong").alias("attr_micro"),
    ).unionByName(
        base.select(
            (F.col("i") + 20000000).alias("id_a"),
            (F.col("i") + 30000000).alias("id_b"),
            F.lit(400000).cast("long").alias("attr_micro"),
        )
    )
    rel = base.select(
        (F.col("i") + 20000000).alias("id"), F.col("i").alias("nbr")
    ).unionByName(
        base.select(
            (F.col("i") + 30000000).alias("id"),
            (F.col("i") + 10000000).alias("nbr"),
        )
    )
    nodes = base.select(F.col("i").alias("id"))
    for off in (10000000, 20000000, 30000000):
        nodes = nodes.unionByName(base.select((F.col("i") + off).alias("id")))
    return collective_er(
        pairs, rel, nodes,
        boost_micro=700000, threshold_micro=1000000, rounds=3,
    )


def _collective_er_sql(outer_rounds: int = 3, minprop: int = 6) -> str:
    parts = [
        "with cust as (select c_custkey::bigint as i, c_name as nm"
        "  from customer), "
        "base as (select i,"
        "  (case when ((('0x' || substr(md5(nm), 5, 2))::bigint) % 3) = 0"
        "   then 300000 else 1000000 end)::bigint as bstrong from cust), "
        "cand as materialized ("
        "  select i as id_a, i + 10000000 as id_b, bstrong as attr from base"
        "  union all select i + 20000000, i + 30000000, 400000::bigint"
        "  from base), "
        "rel as materialized ("
        "  select i + 20000000 as id, i as nbr from base"
        "  union all select i + 30000000, i + 10000000 from base), "
        "uni as materialized (select i as node from base"
        "  union all select i + 10000000 from base"
        "  union all select i + 20000000 from base"
        "  union all select i + 30000000 from base), "
        "asg0 as (select node, node as cluster from uni), "
        "ae0 as (select 0::bigint as src, 0::bigint as dst where 1 = 0), "
    ]
    for r in range(1, outer_rounds + 1):
        pr = r - 1
        parts.append(
            f"nbc{r} as (select distinct l.id, a.cluster as ncl"
            f"  from rel l join asg{pr} a on a.node = l.nbr), "
            f"sh{r} as (select c.id_a, c.id_b,"
            f"  count(distinct x.ncl)::bigint as ns"
            f"  from cand c join nbc{r} x on x.id = c.id_a"
            f"  join nbc{r} y on y.id = c.id_b and y.ncl = x.ncl"
            f"  group by 1, 2), "
            f"acc{r} as (select c.id_a as src, c.id_b as dst from cand c"
            f"  left join sh{r} s on s.id_a = c.id_a and s.id_b = c.id_b"
            f"  where c.attr + 700000 * coalesce(s.ns, 0) >= 1000000), "
            f"ae{r} as materialized (select src, dst from"
            f"  (select src, dst from ae{pr}"
            f"   union select src, dst from acc{r})), "
            f"mu{r} as (select src, dst from (select src, dst from ae{r}"
            f"  union select dst, src from ae{r})), "
            + _swoosh_minprop_sql(f"c{r}", f"mu{r}", minprop)
            + f"comp{r} as (select node, comp from c{r}w{minprop}), "
            f"asg{r} as materialized (select u.node,"
            f"  coalesce(c.comp, u.node) as cluster"
            f"  from uni u left join comp{r} c on c.node = u.node), "
        )
    growth = " + ".join(
        f"(case when (select count(*) from ae{r})"
        f" > (select count(*) from ae{r - 1}) then 1 else 0 end)"
        for r in range(1, outer_rounds + 1)
    )
    parts.append(
        f"ru as (select ({growth})::bigint as rounds_used,"
        f"  ((select count(*) from ae{outer_rounds})"
        f"   = (select count(*) from ae{outer_rounds - 1})) as converged) "
        f"select a.node::bigint as node, a.cluster::bigint as cluster,"
        f"  ru.rounds_used, ru.converged from asg{outer_rounds} a, ru"
    )
    return "".join(parts)


SQL_COLLECTIVE_ER = _collective_er_sql()




def q_incremental_er(spark, sf_dir):
    """Incremental record ER — the nightly-delta composition: an
    md5-free deterministic quarter of the DIRTY twins arrives as a late
    batch; the standing world (all clean + the other dirty rows) is
    blocked (key equality), FS-scored, and clustered FIRST; the batch is
    then blocked against the world + itself, scored with the FROZEN
    phase-1 weights (the production incremental shape — no re-
    estimation), and folded in through cluster.incremental_components,
    which touches only batch-grain data. The oracle is the FULL
    recompute over all records with the same frozen weights — so the
    hash match IS the exactness theorem (incremental ≡ full CC under
    min-labeling) checked cross-engine on real data. Output: every
    record's final cluster + its batch flag."""
    from xlink_spark.operators.cluster import (
        connected_components,
        incremental_components,
    )
    from xlink_spark.operators.linkage import fs_score, match_weights

    recs = _linkage_records(spark, sf_dir).withColumn(
        "is_batch",
        (F.col("id") >= 10000000)
        & (F.pmod(F.col("id") - 10000000, F.lit(4)) == 0),
    )
    kb = recs.select("id", "key", "name", "seg", "nation", "is_batch")

    def _vec(pairs_filter):
        a = kb.select(
            F.col("id").alias("id_a"), F.col("key"),
            F.col("name").alias("_na"), F.col("seg").alias("_sa"),
            F.col("nation").alias("_ta"), F.col("is_batch").alias("_ba"),
        )
        b = kb.select(
            F.col("id").alias("id_b"), F.col("key"),
            F.col("name").alias("_nb"), F.col("seg").alias("_sb"),
            F.col("nation").alias("_tb"), F.col("is_batch").alias("_bb"),
        )
        return (
            a.join(b, "key")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(pairs_filter)
            .select(
                "id_a",
                "id_b",
                (F.col("_na") == F.col("_nb")).alias("agree_name"),
                (F.col("_sa") == F.col("_sb")).alias("agree_seg"),
                (F.col("_ta") == F.col("_tb")).alias("agree_nation"),
                F.expr("pmod(id_a, 10000000) = pmod(id_b, 10000000)")
                .alias("is_match"),
            )
        )

    base_vec = _vec(~F.col("_ba") & ~F.col("_bb"))
    w = match_weights(base_vec, _LINKAGE_FIELDS, "is_match")
    base_edges = fs_score(
        base_vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"]
    ).filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    prev = connected_components(base_edges)
    new_vec = _vec(F.col("_ba") | F.col("_bb"))
    new_edges = fs_score(
        new_vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"]
    ).filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = incremental_components(prev, new_edges)
    return (
        recs.select(F.col("id").alias("node"), "is_batch")
        .join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node"))
            .cast("long")
            .alias("component"),
            "is_batch",
        )
    )


SQL_INCREMENTAL_ER = (
    f"with {_SQL_LINKAGE_BASE}, "
    "kb as (select id, substr(name, 10, 4) as k, name, seg, nation,"
    "  (id >= 10000000 and ((id - 10000000) % 4) = 0) as bt from recs), "
    "ap as (select a.id as id_a, b.id as id_b,"
    "  (a.name = b.name) as agree_name, (a.seg = b.seg) as agree_seg,"
    "  (a.nation = b.nation) as agree_nation,"
    "  (a.id % 10000000 = b.id % 10000000) as is_match,"
    "  (a.bt or b.bt) as anyb"
    "  from kb a join kb b on b.k = a.k and a.id < b.id), "
    # frozen weights from the BASE (non-batch) pairs only
    "one as (select"
    "  sum(case when is_match then 1 else 0 end)::bigint as nm,"
    "  sum(case when not is_match then 1 else 0 end)::bigint as nn,"
    "  sum(case when is_match and agree_name then 1 else 0 end)::bigint"
    "    as ma1,"
    "  sum(case when not is_match and agree_name then 1 else 0 end)::bigint"
    "    as ua1,"
    "  sum(case when is_match and agree_seg then 1 else 0 end)::bigint"
    "    as ma2,"
    "  sum(case when not is_match and agree_seg then 1 else 0 end)::bigint"
    "    as ua2,"
    "  sum(case when is_match and agree_nation then 1 else 0 end)::bigint"
    "    as ma3,"
    "  sum(case when not is_match and agree_nation then 1 else 0 end)"
    "    ::bigint as ua3"
    " from ap where not anyb), "
    "w as (select f.field,"
    "  floor(1e6 * ln(((f.ma + 1) * (o.nn + 2))::double"
    "                 / ((f.ua + 1) * (o.nm + 2))::double))::bigint"
    "    as w_agree_micro,"
    "  floor(1e6 * ln((((o.nm + 2) - (f.ma + 1)) * (o.nn + 2))::double"
    "                 / (((o.nn + 2) - (f.ua + 1)) * (o.nm + 2))::double))"
    "    ::bigint as w_disagree_micro"
    " from one o, (select unnest(['agree_name', 'agree_seg',"
    "    'agree_nation']) as field,"
    "    unnest([ma1, ma2, ma3]) as ma, unnest([ua1, ua2, ua3]) as ua"
    "    from one) f), "
    "long as (select id_a, id_b,"
    "  unnest(['agree_name', 'agree_seg', 'agree_nation']) as field,"
    "  unnest([agree_name, agree_seg, agree_nation]) as agree from ap), "
    "sc as (select l.id_a, l.id_b,"
    "  sum(case when l.agree then w.w_agree_micro"
    "      else w.w_disagree_micro end)::bigint as score_micro"
    "  from long l join w using (field) group by 1, 2), "
    # FULL recompute: every edge (base and batch alike) under the same
    # frozen weights — the exactness theorem's right-hand side
    "eg as (select id_a as src, id_b as dst from sc"
    "  where score_micro >= 0), "
    "mu as (select src, dst from (select src, dst from eg"
    "  union select dst, src from eg)), "
    + _swoosh_minprop_sql("ie", "mu", 8)
    + "comp as (select node, comp from iew8) "
    "select r.id::bigint as node,"
    "  coalesce(c.comp, r.id)::bigint as component,"
    "  (r.id >= 10000000 and ((r.id - 10000000) % 4) = 0) as is_batch "
    "from recs r left join comp c on c.node = r.id"
)


def q_edit_distance_pairs(spark, sf_dir):
    """Exact bounded edit-distance self-join (linkage.edit_distance_join
    — Gravano et al. VLDB 2001 filters + Ed-Join frequency-ordered
    prefixes, Xiao et al. VLDB 2008) at k=1, q=2 over the linkage names:
    every record pair within ONE Levenshtein edit, verified with the
    exact distance. On this corpus the result has real structure beyond
    the 100%-recalled twins: one-digit-apart clean ids are ed=1
    neighbors, and a dirty twin whose bumped last digit collides with
    the NEXT clean id lands at ed=0 — both families hash-checked. The
    prefix discipline matters here: the head bigrams ('Cu', 'us', ...)
    are shared by the entire corpus and never enter a join bucket; the
    three rarest bigrams per name carry the whole candidate space."""
    from xlink_spark.operators.linkage import edit_distance_join

    recs = _linkage_records(spark, sf_dir)
    pairs = edit_distance_join(recs, "name", "id", k=1, q=2)
    return pairs.select(
        "id_a",
        "id_b",
        "ed",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


SQL_EDIT_DISTANCE_PAIRS = (
    f"with {_SQL_LINKAGE_BASE}, "
    # distinct bigrams per name (names are fixed-width 18 chars here, so
    # every record clears the k*q+1 = 3 distinct-gram pigeonhole and the
    # operator's degenerate short-key path is provably empty)
    "g as (select distinct id, substr(name, i, 2) as gram"
    "  from recs, unnest(generate_series(1, length(name) - 1)) as t(i)), "
    "dfq as (select gram, count(*)::bigint as df from g group by 1), "
    "rk as (select g.id, g.gram, row_number() over"
    "  (partition by g.id order by d.df, g.gram) as rn"
    "  from g join dfq d using (gram)), "
    "pre as (select id, gram from rk where rn <= 3), "
    "cand as (select distinct a.id as id_a, b.id as id_b"
    "  from pre a join pre b on a.gram = b.gram and a.id < b.id), "
    "ver as (select c.id_a, c.id_b,"
    "  levenshtein(ra.name, rb.name)::bigint as ed"
    "  from cand c join recs ra on ra.id = c.id_a"
    "  join recs rb on rb.id = c.id_b"
    "  where abs(length(ra.name) - length(rb.name)) <= 1) "
    "select id_a, id_b, ed,"
    "  (id_a % 10000000) = (id_b % 10000000) as is_twin "
    "from ver where ed <= 1"
)


def q_clustering_objective(spark, sf_dir):
    """Correlation-clustering disagreement objective
    (eval.bcubed.correlation_objective — Bansal-Blum-Chawla 2004) of the
    standard ER chain's transitive clusters against its own match-edge
    graph: cut positive edges + missing co-clustered pairs, one exact
    integer. For transitive CC cut_edges = 0 by construction, so the row
    isolates the over-merge cost the repair/star/pivot family exists to
    trade against — the label-FREE companion to er_pairwise_f1 (same
    chain, no gold needed), and the oracle replays blocking → FS →
    threshold → recursive-CTE closure → objective end to end."""
    from xlink_spark.eval.bcubed import correlation_objective
    from xlink_spark.operators.cluster import connected_components
    from xlink_spark.operators.linkage import fs_score, match_weights

    vec = hold(_linkage_vectors(spark, sf_dir), eager=True)
    recs = _linkage_records(spark, sf_dir)
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    scores = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    edges = scores.filter(F.col("score_micro") >= 0).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    asg = recs.join(
        comp.select(F.col("node").alias("id"), "component"), "id", "left"
    ).select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )
    return correlation_objective(asg, edges)


SQL_CLUSTERING_OBJECTIVE = (
    "with recursive "
    + _SQL_LINKAGE_VEC.strip()
    + ", "
    + _SQL_FS_SCORE_CORE
    + ", "
    + _SQL_ER_CC_CORE
    + ", "
    "asg as (select r.id, coalesce(c.component, r.id) as cl"
    "  from recs r left join comp c on c.node = r.id), "
    "e as (select distinct least(src, dst) as a, greatest(src, dst) as b"
    "  from eg where src <> dst), "
    "em as (select count(*)::bigint as n_edges,"
    "  coalesce(sum(case when aa.cl = ab.cl then 1 else 0 end), 0)::bigint"
    "    as intra_edges"
    "  from e join asg aa on aa.id = e.a join asg ab on ab.id = e.b), "
    "pm as (select"
    "  coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint as intra_pairs,"
    "  count(*)::bigint as n_clusters, coalesce(sum(n_), 0)::bigint as"
    "    n_items"
    "  from (select cl, count(*)::bigint as n_ from asg group by 1)) "
    "select n_items, n_clusters, n_edges, intra_edges, intra_pairs,"
    "  (n_edges - intra_edges)::bigint as cut_edges,"
    "  (intra_pairs - intra_edges)::bigint as missing_edges,"
    "  ((n_edges - intra_edges) + (intra_pairs - intra_edges))::bigint"
    "    as disagreements "
    "from em, pm"
)


def q_active_learning_batch(spark, sf_dir):
    """Uncertainty-sampled labeling batch (linkage.uncertainty_sample —
    the ALIAS active-learning loop, Sarawagi & Bhamidipaty KDD 2002):
    the 50 SNM candidate pairs whose FS posterior sits closest to the
    0.5 boundary under (uncertainty asc, id_a, id_b) — the exact batch a
    clerical-review round would label next. Rides the already-margin-
    checked posterior chain (fs_match_probabilities); the batch pick
    itself is all-bigint, so selection, order, and ranks hash exactly.
    With learned_blocking (which predicates) and fs_em_weights
    (unsupervised start) this completes the supervised-ER workflow:
    block -> score -> label the most uncertain -> re-estimate."""
    from xlink_spark.operators.linkage import (
        fs_score,
        match_posteriors,
        match_weights,
        uncertainty_sample,
    )

    # vec feeds the weights collect, the score chain, and the prior/join
    # consumers — persist once
    vec = hold(_linkage_vectors(spark, sf_dir))
    w = match_weights(vec, _LINKAGE_FIELDS, "is_match")
    sc = fs_score(vec, w, _LINKAGE_FIELDS, ["id_a", "id_b"])
    prior = vec.agg(
        (
            F.sum(F.when(F.col("is_match"), 1).otherwise(0)) + F.lit(1)
        ).cast("long").alias("prior_num"),
        (F.count(F.lit(1)) + F.lit(2)).cast("long").alias("prior_den"),
    )
    post = match_posteriors(sc, prior)
    return uncertainty_sample(post, 50)


SQL_ACTIVE_LEARNING_BATCH = (
    f"with {_SQL_LINKAGE_VEC}, {_SQL_FS_SCORE_CORE}, "
    "pr as (select"
    "  (sum(case when is_match then 1 else 0 end) + 1)::bigint as prior_num,"
    "  (count(*) + 2)::bigint as prior_den from vec), "
    "post as (select s.id_a, s.id_b,"
    f"  {_SQL_POSTERIOR_EXPR} as posterior_ppm"
    "  from sc s, pr), "
    "u as (select id_a, id_b, posterior_ppm,"
    "  abs(posterior_ppm - 500000)::bigint as uncertainty_ppm"
    "  from post order by uncertainty_ppm, id_a, id_b limit 50) "
    "select id_a, id_b, posterior_ppm, uncertainty_ppm,"
    "  row_number() over (order by uncertainty_ppm, id_a, id_b)::bigint"
    "    as rank "
    "from u"
)


def q_edit_distance_pairs_delete(spark, sf_dir):
    """Cross-method exactness as a hash row: the SAME k=1 bounded
    edit-distance join as edit_distance_pairs but generated through the
    FastSS deletion neighborhood (linkage.edit_distance_join
    method='delete' — the dense-alphabet/constant-affix regime's scheme,
    the one that survives the 192k replicated-ID corpus where gram
    prefixes stall; see the operator
    docstring's measured regime map). The oracle is the INDEPENDENT
    q-gram prefix formulation in DuckDB, so a green hash here proves
    delete-neighborhood == prefix-filtering == DuckDB on real data, on
    top of the two-method brute-parity unit tests."""
    from xlink_spark.operators.linkage import edit_distance_join

    recs = _linkage_records(spark, sf_dir)
    pairs = edit_distance_join(recs, "name", "id", k=1, method="delete")
    return pairs.select(
        "id_a",
        "id_b",
        "ed",
        (
            F.pmod(F.col("id_a"), F.lit(10000000))
            == F.pmod(F.col("id_b"), F.lit(10000000))
        ).alias("is_twin"),
    )


def q_learned_blocking(spark, sf_dir):
    """Adaptive blocking-scheme learning (linkage.learn_blocking_scheme —
    Bilenko et al. ICDM 2006 greedy red-blue set cover) over the linkage
    corpus with the weak-predicate library {seg, nation, suffix4} and the
    twins as labeled positives, pair-penalty 1000 micro per candidate
    pair. The greedy order is corpus-driven, not library-order — and it
    FLIPS with scale: at sf0.001 seg's higher coverage wins round 1
    (95 covered, score 8.86e7), but block cost grows quadratically while
    coverage grows linearly, so at sf0.01 nation's 25 small blocks beat
    seg's five fat ones (753 covered at score 5.74e8 vs seg's negative
    round-2 score) — exactly the coverage-vs-cost tradeoff the greedy is
    for. suffix4 covers zero twins (the corruption sits in the suffix)
    and is never picked; the loop stops the round after nothing new is
    covered. Greedy order, exact coverage/cost counts, scores, and the
    early stop all land in the value hash."""
    from xlink_spark.operators.linkage import learn_blocking_scheme

    recs = _linkage_records(spark, sf_dir)
    mem = (
        recs.select(
            F.lit("seg").alias("pred"), F.col("seg").alias("block"), "id"
        )
        .unionByName(
            recs.select(
                F.lit("nation").alias("pred"),
                F.col("nation").cast("string").alias("block"),
                "id",
            )
        )
        .unionByName(
            recs.select(
                F.lit("suffix4").alias("pred"),
                F.expr("substring(name, length(name) - 3, 4)").alias("block"),
                "id",
            )
        )
    )
    pos = recs.where(F.col("id") < 10000000).select(
        F.col("id").alias("id_a"), (F.col("id") + 10000000).alias("id_b")
    )
    return learn_blocking_scheme(mem, pos, rounds=3, pair_penalty_micro=1000)


SQL_LEARNED_BLOCKING = (
    f"with {_SQL_LINKAGE_BASE}, "
    "mem as (select 'seg' as pred, seg as block, id from recs"
    "  union all"
    "  select 'nation' as pred, nation::varchar as block, id from recs"
    "  union all"
    "  select 'suffix4' as pred, substr(name, length(name) - 3, 4) as block,"
    "    id from recs), "
    "pos as (select id as id_a, id + 10000000 as id_b from cust), "
    "cost as (select pred, sum((n * (n - 1)) // 2)::bigint as pairs_total"
    "  from (select pred, block, count(*)::bigint as n from mem"
    "        group by 1, 2) group by 1), "
    "cov as (select distinct a.pred, p.id_a, p.id_b from pos p"
    "  join mem a on a.id = p.id_a"
    "  join mem b on b.pred = a.pred and b.block = a.block"
    "    and b.id = p.id_b), "
    # greedy rounds unrolled; each pick filters covered_new > 0 (the early
    # stop) and conditions on the previous round having picked at all
    "s1 as (select pred, count(*)::bigint as covered_new from cov"
    "  group by 1), "
    "p1 as (select s.pred, s.covered_new, c.pairs_total,"
    "  (s.covered_new * 1000000 - 1000 * c.pairs_total)::bigint as"
    "    score_micro"
    "  from s1 s join cost c using (pred) where s.covered_new > 0"
    "  order by score_micro desc, s.pred limit 1), "
    "rem2 as (select p.id_a, p.id_b from pos p"
    "  where not exists (select 1 from cov c"
    "    where c.pred = (select pred from p1)"
    "      and c.id_a = p.id_a and c.id_b = p.id_b)), "
    "s2 as (select c.pred, count(*)::bigint as covered_new from cov c"
    "  join rem2 r on c.id_a = r.id_a and c.id_b = r.id_b group by 1), "
    "p2 as (select s.pred, s.covered_new, c.pairs_total,"
    "  (s.covered_new * 1000000 - 1000 * c.pairs_total)::bigint as"
    "    score_micro"
    "  from s2 s join cost c using (pred)"
    "  where s.covered_new > 0 and exists (select 1 from p1)"
    "  order by score_micro desc, s.pred limit 1), "
    "rem3 as (select r.id_a, r.id_b from rem2 r"
    "  where not exists (select 1 from cov c"
    "    where c.pred = (select pred from p2)"
    "      and c.id_a = r.id_a and c.id_b = r.id_b)), "
    "s3 as (select c.pred, count(*)::bigint as covered_new from cov c"
    "  join rem3 r on c.id_a = r.id_a and c.id_b = r.id_b group by 1), "
    "p3 as (select s.pred, s.covered_new, c.pairs_total,"
    "  (s.covered_new * 1000000 - 1000 * c.pairs_total)::bigint as"
    "    score_micro"
    "  from s3 s join cost c using (pred)"
    "  where s.covered_new > 0 and exists (select 1 from p2)"
    "  order by score_micro desc, s.pred limit 1), "
    "un as (select 1 as rnd, * from p1"
    "  union all select 2, * from p2"
    "  union all select 3, * from p3) "
    "select rnd::bigint as round, pred, covered_new,"
    "  sum(covered_new) over (order by rnd)::bigint as covered_total,"
    "  pairs_total, score_micro "
    "from un"
)


def q_learned_blocking_pairs(spark, sf_dir):
    """Deploy the LEARNED disjunction (q_learned_blocking's greedy pick)
    as an actual blocker and gauge it — the learn→deploy composition:
    per chosen predicate, candidate pairs from block-size arithmetic
    (Σ C(n_b,2), nothing materialized) + planted-twin coverage via the
    twin-grain key join; plus one 'disjunction' row where the distinct
    pair UNION is counted (the set a downstream comparator would
    actually see — inclusion-exclusion made concrete). The scheme the
    greedy chose at THIS scale is what deploys, so the row set itself
    pins the scale-dependent pick order the learner query documents."""
    from xlink_spark.operators.linkage import learn_blocking_scheme

    recs = _linkage_records(spark, sf_dir)
    mem = (
        recs.select(
            F.lit("seg").alias("pred"), F.col("seg").alias("block"), "id"
        )
        .unionByName(
            recs.select(
                F.lit("nation").alias("pred"),
                F.col("nation").cast("string").alias("block"),
                "id",
            )
        )
        .unionByName(
            recs.select(
                F.lit("suffix4").alias("pred"),
                F.expr("substring(name, length(name) - 3, 4)").alias("block"),
                "id",
            )
        )
    )
    pos = recs.where(F.col("id") < 10000000).select(
        F.col("id").alias("id_a"), (F.col("id") + 10000000).alias("id_b")
    )
    chosen = [
        r["pred"]
        for r in learn_blocking_scheme(
            mem, pos, rounds=3, pair_penalty_micro=1000
        ).collect()
    ]
    km = mem.where(F.col("pred").isin(chosen))
    tot = pos.agg(F.count(F.lit(1)).cast("long").alias("_tw"))

    def _gauge(scope, n_pairs_df, cov_df):
        return (
            n_pairs_df.crossJoin(cov_df)
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(scope).alias("scope"),
                "n_pairs",
                "twins_covered",
                F.expr("(1000000 * twins_covered) div _tw").alias(
                    "recall_ppm"
                ),
            )
        )

    out = None
    for p in chosen:
        pm = km.where(F.col("pred") == p)
        np_ = pm.groupBy("block").agg(
            F.count(F.lit(1)).alias("_n")
        ).agg(
            F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")), F.lit(0))
            .cast("long")
            .alias("n_pairs")
        )
        a = pm.select("block", F.col("id").alias("id_a"))
        b = pm.select("block", (F.col("id") - 10000000).alias("id_a"))
        cov = (
            a.join(b, ["block", "id_a"])
            .select("id_a")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("twins_covered"))
        )
        g = _gauge(p, np_, cov)
        out = g if out is None else out.unionByName(g)
    ua = km.select("block", "pred", F.col("id").alias("id_a"))
    ub = km.select(
        "block", "pred", F.col("id").alias("id_b")
    )
    upairs = (
        ua.join(ub, ["pred", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    un = upairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    ucov = upairs.where(
        F.pmod(F.col("id_a"), F.lit(10000000))
        == F.pmod(F.col("id_b"), F.lit(10000000))
    ).agg(F.count(F.lit(1)).cast("long").alias("twins_covered"))
    return out.unionByName(_gauge("disjunction", un, ucov))


SQL_LEARNED_BLOCKING_PAIRS = (
    # rides the full 3-round greedy CTE chain of SQL_LEARNED_BLOCKING,
    # then deploys the chosen predicates
    SQL_LEARNED_BLOCKING.rsplit("select rnd::bigint", 1)[0]
    + ", chosen as (select pred from un), "
    "kmx as (select m.pred, m.block, m.id from mem m"
    "  join chosen c using (pred)), "
    "tw as (select count(*)::bigint as tw from pos), "
    "per as (select k.pred as scope,"
    "  (select coalesce(sum((n_ * (n_ - 1)) // 2), 0)::bigint from"
    "    (select count(*)::bigint as n_ from kmx k2"
    "     where k2.pred = k.pred group by k2.block)) as n_pairs,"
    "  (select count(distinct a.id)::bigint from kmx a"
    "    join kmx d on d.pred = k.pred and d.block = a.block"
    "      and d.id = a.id + 10000000"
    "    where a.pred = k.pred and a.id < 10000000) as twins_covered"
    "  from (select distinct pred from chosen) k), "
    "up as (select distinct a.id as id_a, b.id as id_b from kmx a"
    "  join kmx b on b.pred = a.pred and b.block = a.block"
    "    and a.id < b.id), "
    "ud as (select count(*)::bigint as n_pairs,"
    "  coalesce(sum(case when id_a % 10000000 = id_b % 10000000"
    "    then 1 else 0 end), 0)::bigint as twins_covered from up) "
    "select scope, n_pairs, twins_covered,"
    "  (1000000 * twins_covered) // tw as recall_ppm from per, tw "
    "union all "
    "select 'disjunction', n_pairs, twins_covered,"
    "  (1000000 * twins_covered) // tw from ud, tw"
)



# Ordered so the driver's correctness window (the FIRST entries of
# queries(), which leads with the flagship linking_pipeline added in
# __spark_entry__) carries the product: the hash-oracled flagship variants,
# the composed curation plan, and one representative per round-5 ER family —
# legacy SURVEY-§2 rows follow. Contents and per-name oracle SQL unchanged.
# Each builder's storage lives until the next registry query is built.
QUERIES: dict[str, Query] = registry({
    "linking_pipeline_ascii": q_linking_pipeline_ascii,
    "linking_seeded_ascii": q_linking_seeded_ascii,
    "curation_plan": q_curation_plan,
    "er_golden_records": q_er_golden_records,
    "er_pairwise_f1": q_er_pairwise_f1,
    "edit_distance_pairs": q_edit_distance_pairs,
    "edit_distance_pairs_delete": q_edit_distance_pairs_delete,
    "allpairs_name_blocks": q_allpairs_name_blocks,
    "allpairs_cosine_blocks": q_allpairs_cosine_blocks,
    "clustering_conll": q_clustering_conll,
    "clustering_ceaf": q_clustering_ceaf,
    "clustering_muc": q_clustering_muc,
    "incremental_er": q_incremental_er,
    "fused_golden_values": q_fused_golden_values,
    "pprl_hlsh_pairs": q_pprl_hlsh_pairs,
    "pprl_dice_scores": q_pprl_dice_scores,
    "learned_blocking": q_learned_blocking,
    "learned_blocking_pairs": q_learned_blocking_pairs,
    "cluster_repair": q_cluster_repair,
    "repair_f1_gain": q_repair_f1_gain,
    "vector_blocks": q_vector_blocks,
    "block_split_pairs": q_block_split_pairs,
    "group_linkage_ges": q_group_linkage_ges,
    "star_clusters": q_star_clusters,
    "pivot_clusters": q_pivot_clusters,
    "one_to_one_matches": q_one_to_one_matches,
    "iterative_merge_er": q_iterative_merge_er,
    "collective_er": q_collective_er,
    "truth_trust_avglog": q_truth_trust_avglog,
    "truth_fusion": q_truth_fusion,
    "soft_tfidf_scores": q_soft_tfidf_scores,
    "jaccard_pairs_exact": q_jaccard_pairs_exact,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "coherence_rerank": q_coherence_rerank,
    "coherence_iterate2": q_coherence_iterate2,
    "bm25_topk": q_bm25_topk,
    "entity_pagerank": q_entity_pagerank,
    "entity_relatedness": q_entity_relatedness,
    "fs_pair_scores": q_fs_pair_scores,
    "fs_level_scores": q_fs_level_scores,
    "fs_match_probabilities": q_fs_match_probabilities,
    "fs_calibration": q_fs_calibration,
    "qgram_blocks": q_qgram_blocks,
    "meta_blocking_wnp": q_meta_blocking_wnp,
    "snm_candidate_pairs": q_snm_candidate_pairs,
    "active_learning_batch": q_active_learning_batch,
    "clustering_objective": q_clustering_objective,
    "cc_incremental": q_cc_incremental,
    "cluster_stable_ids": q_cluster_stable_ids,
    "freq_m": q_freq_m,
    "mention_anchors": q_mention_anchors,
    "entity_prior": q_entity_prior,
    "m_given_e": q_m_given_e,
    "e_given_m": q_e_given_m,
    "link_prob": q_link_prob,
    "filter_anchors_f3": q_filter_anchors_f3,
    "refine_by_freq_f2": q_refine_by_freq_f2,
    "title_expansion_j3": q_title_expansion_j3,
    "doc_entity_resolution_j2": q_doc_entity_resolution_j2,
    "conflict_groups_w1": q_conflict_groups_w1,
    "conflict_weighted_w2": q_conflict_weighted_w2,
    "top1_w4": q_top1_w4,
    "seed_argmax_w5": q_seed_argmax_w5,
    "topk_parts_per_supplier": q_topk_parts_per_supplier,
    "q1_pricing_summary": q_q1_pricing_summary,
    "corpus_stats_a10": q_corpus_stats_a10,
    "eval_f1_a12": q_eval_f1_a12,
    "merge_counts_a2": q_merge_counts_a2,
    "out_links_u2": q_out_links_u2,
    "dedup_exact": q_dedup_exact,
    "dedup_fingerprint": q_dedup_fingerprint,
    "minhash_signatures": q_minhash_signatures,
    "lsh_jaccard_pairs": q_lsh_jaccard_pairs,
    "neardup_clusters": q_neardup_clusters,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap_pairs": q_winnow_overlap_pairs,
    "token_counts": q_token_counts,
    "quality_scores": q_quality_scores,
    "quality_quantiles": q_quality_quantiles,
    "language_id": q_language_id,
    "repetition_stats": q_repetition_stats,
    "redact_pii": q_redact_pii,
    "ann_topk": q_ann_topk,
    "ann_topk_srp": q_ann_topk_srp,
    "ann_topk_ivf": q_ann_topk_ivf,
    "ann_topk_ivf_c256": q_ann_topk_ivf_c256,
    "knn_vote": q_knn_vote,
    "embedding_neardup": q_embedding_neardup,
    "contamination": q_contamination,
    "semantic_dedup": q_semantic_dedup,
    "linking_priors": q_linking_priors,
    "connected_components": q_connected_components,
    "sample_docs_o3": q_sample_docs_o3,
    "stats_by_source_gs": q_stats_by_source_gs,
    "simhash16": q_simhash16,
    "simhash_near_pairs": q_simhash_near_pairs,
    "detected_mentions": q_detected_mentions,
    "resolved_mentions": q_resolved_mentions,
    "hash_sample": q_hash_sample,
    "mixture_weights": q_mixture_weights,
    "stratified_sample": q_stratified_sample,
    "quota_sample": q_quota_sample,
    "mixture_weights_tokens": q_mixture_weights_tokens,
    "hash_split": q_hash_split,
    "top_ngrams": q_top_ngrams,
    "boilerplate_lines": q_boilerplate_lines,
    "strip_boilerplate": q_strip_boilerplate,
    "paragraph_dedup": q_paragraph_dedup,
    "blocking_metrics": q_blocking_metrics,
    "bcubed_metrics": q_bcubed_metrics,
    "skew_salt_plan": q_skew_salt_plan,
    "cluster_size_histogram": q_cluster_size_histogram,
    "current_links_fold": q_current_links_fold,
    "span_roundtrip": q_span_roundtrip,
    "media_ref_audit": q_media_ref_audit,
    "lm_scores": q_lm_scores,
    "table_diff": q_table_diff,
    "chunk_documents": q_chunk_documents,
    "fuzzy_surface_match": q_fuzzy_surface_match,
    "fuzzy_candidate_priors": q_fuzzy_candidate_priors,
    "fuzzy_detected_mentions": q_fuzzy_detected_mentions,
    "quality_drift": q_quality_drift,
    "decayed_priors": q_decayed_priors,
    "blocking_compare": q_blocking_compare,
    "fs_match_weights": q_fs_match_weights,
    "fs_em_weights": q_fs_em_weights,
    "jw_pair_scores": q_jw_pair_scores,
    "fs_u_frequencies": q_fs_u_frequencies,
    "fs_threshold_sweep": q_fs_threshold_sweep,
    "snm_multipass_pairs": q_snm_multipass_pairs,
    "fs_review_bands": q_fs_review_bands,
    "edit_pair_scores": q_edit_pair_scores,
    "monge_elkan_scores": q_monge_elkan_scores,
    "meta_blocking_pairs": q_meta_blocking_pairs,
    "clustering_ari": q_clustering_ari,
    "phonetic_blocks": q_phonetic_blocks,
    "nysiis_blocks": q_nysiis_blocks,
    "caverphone_blocks": q_caverphone_blocks,
    "clustering_blanc": q_clustering_blanc,
    "center_clusters": q_center_clusters,
    "merge_center_clusters": q_merge_center_clusters,
    "canopy_clusters": q_canopy_clusters,
    "canopy_blocking_metrics": q_canopy_blocking_metrics,
    "truth_source_trust": q_truth_source_trust,
    "mutual_best_pairs": q_mutual_best_pairs,
    "link_constraints": q_link_constraints,
    "suffix_blocks": q_suffix_blocks,
    "constrained_links": q_constrained_links,
    "clustering_vmeasure": q_clustering_vmeasure,
    "er_blocking_compare": q_er_blocking_compare,
    "fs_level_weights": q_fs_level_weights,
    "fs_tf_scores": q_fs_tf_scores,
    "block_split_plan": q_block_split_plan,
    "progressive_snm": q_progressive_snm,
    "cluster_cohesion": q_cluster_cohesion,
})

ORACLES: dict[str, str] = {
    "freq_m": SQL_FREQ_M,
    "mention_anchors": SQL_MENTION_ANCHORS,
    "entity_prior": SQL_ENTITY_PRIOR,
    "m_given_e": SQL_M_GIVEN_E,
    "e_given_m": SQL_E_GIVEN_M,
    "link_prob": SQL_LINK_PROB,
    "filter_anchors_f3": SQL_FILTER_ANCHORS_F3,
    "refine_by_freq_f2": SQL_REFINE_BY_FREQ_F2,
    "title_expansion_j3": SQL_TITLE_EXPANSION_J3,
    "doc_entity_resolution_j2": SQL_DOC_ENTITY_RESOLUTION_J2,
    "conflict_groups_w1": SQL_CONFLICT_GROUPS_W1,
    "conflict_weighted_w2": SQL_CONFLICT_WEIGHTED_W2,
    "top1_w4": SQL_TOP1_W4,
    "seed_argmax_w5": SQL_SEED_ARGMAX_W5,
    "topk_parts_per_supplier": SQL_TOPK_PARTS_PER_SUPPLIER,
    "q1_pricing_summary": SQL_Q1_PRICING_SUMMARY,
    "corpus_stats_a10": SQL_CORPUS_STATS_A10,
    "eval_f1_a12": SQL_EVAL_F1_A12,
    "merge_counts_a2": SQL_MERGE_COUNTS_A2,
    "out_links_u2": SQL_OUT_LINKS_U2,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_fingerprint": SQL_DEDUP_FINGERPRINT,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "lsh_jaccard_pairs": SQL_LSH_JACCARD_PAIRS,
    "neardup_clusters": SQL_NEARDUP_CLUSTERS,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "winnow_overlap_pairs": SQL_WINNOW_OVERLAP_PAIRS,
    "token_counts": SQL_TOKEN_COUNTS,
    "quality_scores": SQL_QUALITY_SCORES,
    "quality_quantiles": SQL_QUALITY_QUANTILES,
    "language_id": SQL_LANGUAGE_ID,
    "repetition_stats": SQL_REPETITION_STATS,
    "redact_pii": SQL_REDACT_PII,
    "ann_topk": SQL_ANN_TOPK,
    "ann_topk_srp": SQL_ANN_TOPK_SRP_TEMPLATE.format(bucket=_srp_bucket_sql()),
    "ann_topk_ivf": SQL_ANN_TOPK_IVF,
    "ann_topk_ivf_c256": SQL_ANN_TOPK_IVF_C256,
    "knn_vote": SQL_KNN_VOTE_TEMPLATE.format(
        srp_topk=SQL_ANN_TOPK_SRP_TEMPLATE.format(bucket=_srp_bucket_sql())
    ),
    "embedding_neardup": SQL_EMBEDDING_NEARDUP_TEMPLATE.format(
        bucket=_srp_bucket_sql()
    ),
    "contamination": SQL_CONTAMINATION,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "linking_priors": SQL_LINKING_PRIORS,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "sample_docs_o3": SQL_SAMPLE_DOCS_O3,
    "stats_by_source_gs": SQL_STATS_BY_SOURCE_GS,
    "simhash16": SQL_SIMHASH16,
    "simhash_near_pairs": SQL_SIMHASH_NEAR_PAIRS,
    "detected_mentions": SQL_DETECTED_MENTIONS,
    "resolved_mentions": SQL_RESOLVED_MENTIONS_TEMPLATE.format(
        detected=SQL_DETECTED_MENTIONS
    ),
    "linking_pipeline_ascii": SQL_LINKING_PIPELINE_ASCII,
    "linking_seeded_ascii": SQL_LINKING_SEEDED_ASCII,
    "curation_plan": SQL_CURATION_PLAN,
    "hash_sample": SQL_HASH_SAMPLE,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "quota_sample": SQL_QUOTA_SAMPLE,
    "mixture_weights_tokens": SQL_MIXTURE_WEIGHTS_TOKENS,
    "hash_split": SQL_HASH_SPLIT,
    "top_ngrams": SQL_TOP_NGRAMS,
    "boilerplate_lines": SQL_BOILERPLATE_LINES,
    "strip_boilerplate": SQL_STRIP_BOILERPLATE,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "blocking_metrics": SQL_BLOCKING_METRICS,
    "bcubed_metrics": SQL_BCUBED_METRICS,
    "skew_salt_plan": SQL_SKEW_SALT_PLAN,
    "cluster_size_histogram": SQL_CLUSTER_SIZE_HISTOGRAM,
    "current_links_fold": SQL_CURRENT_LINKS_FOLD,
    "span_roundtrip": SQL_SPAN_ROUNDTRIP,
    "media_ref_audit": SQL_MEDIA_REF_AUDIT,
    "lm_scores": SQL_LM_SCORES,
    "table_diff": SQL_TABLE_DIFF,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "fuzzy_surface_match": SQL_FUZZY_SURFACE_MATCH,
    "fuzzy_candidate_priors": SQL_FUZZY_CANDIDATE_PRIORS,
    "jaccard_pairs_exact": SQL_JACCARD_PAIRS_EXACT,
    "cluster_stable_ids": SQL_CLUSTER_STABLE_IDS,
    "fuzzy_detected_mentions": SQL_FUZZY_DETECTED_MENTIONS,
    "quality_drift": SQL_QUALITY_DRIFT,
    "decayed_priors": SQL_DECAYED_PRIORS,
    "blocking_compare": SQL_BLOCKING_COMPARE,
    "cc_incremental": SQL_CC_INCREMENTAL,
    "entity_pagerank": SQL_ENTITY_PAGERANK,
    "entity_relatedness": SQL_ENTITY_RELATEDNESS,
    "coherence_rerank": SQL_COHERENCE_RERANK,
    "snm_candidate_pairs": SQL_SNM_CANDIDATE_PAIRS,
    "fs_match_weights": SQL_FS_MATCH_WEIGHTS,
    "fs_pair_scores": SQL_FS_PAIR_SCORES,
    "fs_em_weights": SQL_FS_EM_WEIGHTS,
    "jw_pair_scores": SQL_JW_PAIR_SCORES,
    "fs_u_frequencies": SQL_FS_U_FREQUENCIES,
    "fs_threshold_sweep": SQL_FS_THRESHOLD_SWEEP,
    "er_golden_records": SQL_ER_GOLDEN_RECORDS,
    "coherence_iterate2": SQL_COHERENCE_ITERATE2,
    "bm25_topk": SQL_BM25_TOPK,
    "snm_multipass_pairs": SQL_SNM_MULTIPASS_PAIRS,
    "fs_review_bands": SQL_FS_REVIEW_BANDS,
    "er_pairwise_f1": SQL_ER_PAIRWISE_F1,
    "edit_pair_scores": SQL_EDIT_PAIR_SCORES,
    "monge_elkan_scores": SQL_MONGE_ELKAN_SCORES,
    "tfidf_cosine_pairs": SQL_TFIDF_COSINE_PAIRS,
    "meta_blocking_pairs": SQL_META_BLOCKING_PAIRS,
    "clustering_ari": SQL_CLUSTERING_ARI,
    "phonetic_blocks": SQL_PHONETIC_BLOCKS,
    "nysiis_blocks": SQL_NYSIIS_BLOCKS,
    "caverphone_blocks": SQL_CAVERPHONE_BLOCKS,
    "clustering_muc": SQL_CLUSTERING_MUC,
    "clustering_blanc": SQL_CLUSTERING_BLANC,
    "clustering_ceaf": SQL_CLUSTERING_CEAF,
    "clustering_conll": SQL_CLUSTERING_CONLL,
    "star_clusters": SQL_STAR_CLUSTERS,
    "center_clusters": SQL_CENTER_CLUSTERS,
    "merge_center_clusters": SQL_MERGE_CENTER_CLUSTERS,
    "pivot_clusters": SQL_PIVOT_CLUSTERS,
    "one_to_one_matches": SQL_ONE_TO_ONE_MATCHES,
    "canopy_clusters": SQL_CANOPY_CLUSTERS,
    "canopy_blocking_metrics": SQL_CANOPY_BLOCKING_METRICS,
    "truth_trust_avglog": SQL_TRUTH_TRUST_AVGLOG,
    "fused_golden_values": SQL_FUSED_GOLDEN_VALUES,
    "truth_fusion": SQL_TRUTH_FUSION,
    "truth_source_trust": SQL_TRUTH_SOURCE_TRUST,
    "soft_tfidf_scores": SQL_SOFT_TFIDF_SCORES,
    "pprl_dice_scores": SQL_PPRL_DICE_SCORES,
    "pprl_hlsh_pairs": SQL_PPRL_HLSH_PAIRS,
    "allpairs_name_blocks": SQL_ALLPAIRS_NAME_BLOCKS,
    "allpairs_cosine_blocks": SQL_ALLPAIRS_COSINE_BLOCKS,
    "group_linkage_ges": SQL_GROUP_LINKAGE_GES,
    "mutual_best_pairs": SQL_MUTUAL_BEST_PAIRS,
    "link_constraints": SQL_LINK_CONSTRAINTS,
    "suffix_blocks": SQL_SUFFIX_BLOCKS,
    "constrained_links": SQL_CONSTRAINED_LINKS,
    "clustering_vmeasure": SQL_CLUSTERING_VMEASURE,
    "er_blocking_compare": SQL_ER_BLOCKING_COMPARE,
    "fs_level_weights": SQL_FS_LEVEL_WEIGHTS,
    "fs_level_scores": SQL_FS_LEVEL_SCORES,
    "fs_tf_scores": SQL_FS_TF_SCORES,
    "qgram_blocks": SQL_QGRAM_BLOCKS,
    "block_split_plan": SQL_BLOCK_SPLIT_PLAN,
    "block_split_pairs": SQL_BLOCK_SPLIT_PAIRS,
    "progressive_snm": SQL_PROGRESSIVE_SNM,
    "vector_blocks": SQL_VECTOR_BLOCKS,
    "iterative_merge_er": SQL_ITERATIVE_MERGE_ER,
    "collective_er": SQL_COLLECTIVE_ER,
    "incremental_er": SQL_INCREMENTAL_ER,
    "edit_distance_pairs": SQL_EDIT_DISTANCE_PAIRS,
    "learned_blocking": SQL_LEARNED_BLOCKING,
    "active_learning_batch": SQL_ACTIVE_LEARNING_BATCH,
    "clustering_objective": SQL_CLUSTERING_OBJECTIVE,
    "meta_blocking_wnp": SQL_META_BLOCKING_WNP,
    "learned_blocking_pairs": SQL_LEARNED_BLOCKING_PAIRS,
    "edit_distance_pairs_delete": SQL_EDIT_DISTANCE_PAIRS,
    "fs_match_probabilities": SQL_FS_MATCH_PROBABILITIES,
    "fs_calibration": SQL_FS_CALIBRATION,
    "cluster_cohesion": SQL_CLUSTER_COHESION,
    "cluster_repair": SQL_CLUSTER_REPAIR,
    "repair_f1_gain": SQL_REPAIR_F1_GAIN,
}
