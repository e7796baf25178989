"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship HFE collapse end-to-end on sf0.001;
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible query (hash/randomized operators are rows-only).

Column names and float rounding are mirrored EXACTLY between each Spark
query and its oracle (the driver hashes values after sorting columns by
name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EN_STOP = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "was", "with", "on", "as", "are", "this"]
DE_STOP = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den", "von", "zu", "im", "sich", "des"]
FR_STOP = ["le", "la", "les", "et", "des", "est", "un", "une", "dans", "que", "pour", "qui", "sur", "pas", "au"]
ES_STOP = ["el", "la", "los", "las", "y", "es", "un", "una", "en", "que", "por", "con", "del", "se", "no"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: full taxaHFE collapse (rollup -> filters -> corr prune -> RF
# competition -> winner matrix) on a hierarchy derived from sf0.001
# --------------------------------------------------------------------------


def supplier_hierarchy(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared flagship input: region|nation|supplier hierarchy long frame
    valued by shipped quantity per customer, plus the customer metadata
    (label = account-balance sign). Used by entry(), q_hfe_collapse,
    q_hfe_corr_collapse and bench so they cannot drift apart."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    su, na, re = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    cu = _t(spark, sf_dir, "customer")
    # aggregate on the INT key pair first, then attach the clade string by
    # broadcast join on the taxonomy-sized supplier dimension (r8 guide
    # §2.2: shuffle fewer bytes — the exchange carries (int, int, double)
    # partial aggregates instead of ~60-byte concat keys; grouping by
    # l_suppkey is exactly grouping by clade_name because s_name is unique
    # per supplier and every lineitem's suppkey joins one supplier row, and
    # l_quantity values are small integers so the sums are fp-exact in any
    # accumulation order)
    long = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_suppkey").alias("skey"),
            F.col("o_custkey").alias("entity_id"),
        )
        .agg(F.sum("l_quantity").alias("value"))
        .join(su, F.col("skey") == su.s_suppkey)
        .join(na, su.s_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .select(
            F.concat_ws("|", "r_name", "n_name", "s_name").alias("clade_name"),
            "entity_id",
            "value",
        )
    )
    meta = cu.select(
        F.col("c_custkey").cast("string").alias("subject_id"),
        F.when(F.col("c_acctbal") > 0, F.lit("pos")).otherwise(F.lit("neg")).alias(
            "feature_of_interest"
        ),
    )
    return long, meta


def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    long, meta = supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(lowest_level=1, nperm=2, num_trees=30, seed=42)
    tree, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
    return winner_feature_matrix(tree, state, metadata=meta)


# --------------------------------------------------------------------------
# query implementations
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cu, na = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "n_name",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def _hfe_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy: region|nation|customer leaves valued by acctbal per market
    segment, plus OBSERVED mid-level rows for nations with key%3==0 whose
    values deliberately differ from the child sum (observed-wins exercise)."""
    cu, na, re = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    segs = cu.select(F.col("c_mktsegment").alias("entity_id")).distinct()
    leaves = (
        cu.join(na, cu.c_nationkey == na.n_nationkey)
        .join(re, na.n_regionkey == re.r_regionkey)
        .groupBy(
            F.concat_ws("|", "r_name", "n_name", "c_name").alias("clade_name"),
            F.col("c_mktsegment").alias("entity_id"),
        )
        .agg(F.sum("c_acctbal").alias("value"))
    )
    obs2 = (
        na.join(re, na.n_regionkey == re.r_regionkey)
        .filter(F.col("n_nationkey") % 3 == 0)
        .crossJoin(segs)
        .select(
            F.concat_ws("|", "r_name", "n_name").alias("clade_name"),
            "entity_id",
            (
                (F.col("n_nationkey") + 1) * 100.0 + F.length("entity_id")
            ).cast("double").alias("value"),
        )
    )
    return leaves.unionByName(obs2)


def q_hfe_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.taxonomy import hierarchical_rollup

    resolved = hierarchical_rollup(_hfe_long(spark, sf_dir), clean_paths=False)
    return resolved.select(
        "path",
        F.col("level").cast("long").alias("level"),
        "entity_id",
        F.round("value", 4).alias("value"),
        "observed",
    )


def q_hfe_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.filters import feature_filter_flags
    from taxahfe_spark.taxonomy import resolve_tree

    # the resolved tree already knows its entity universe: no second pass
    # over the 5-way join for the filter denominator
    tree = resolve_tree(_hfe_long(spark, sf_dir), clean_paths=False)
    return feature_filter_flags(tree.frame(), len(tree.entities), 0.4, 1000.0).select(
        "path",
        F.col("level").cast("long").alias("level"),
        F.col("prevalence").cast("long").alias("prevalence"),
        F.round("mean_abundance", 4).alias("mean_abundance"),
        "passed_prevalence",
        "passed_abundance",
        "passed_filters",
    )


def _orders_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("snap_ts")
        )
        .agg(F.max("o_totalprice").alias("o_totalprice"))
    )


def q_asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _orders_snap(spark, sf_dir), on="user_id", left_ts="ts",
        right_ts="snap_ts", value_cols=["o_totalprice"], strategy="union",
    )
    return out.select(
        "event_id", "user_id", "ts", F.round("o_totalprice", 2).alias("last_order_price")
    )


def q_asof_events_orders_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _orders_snap(spark, sf_dir), on="user_id", left_ts="ts",
        right_ts="snap_ts", value_cols=["o_totalprice"], strategy="union", n_salt=8,
    )
    return out.select(
        "event_id", "user_id", "ts", F.round("o_totalprice", 2).alias("last_order_price")
    )


def q_asof_events_orders_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _orders_snap(spark, sf_dir), on="user_id", left_ts="ts",
        right_ts="snap_ts", value_cols=["o_totalprice"], strategy="broadcast",
    )
    return out.select(
        "event_id", "user_id", "ts", F.round("o_totalprice", 2).alias("last_order_price")
    )


_ASOF_ORACLE = """
WITH snap AS (
  SELECT o_custkey AS user_id, o_orderdate AS snap_ts,
         max(o_totalprice) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       round(s.o_totalprice, 2) AS last_order_price
FROM events e ASOF LEFT JOIN snap s
  ON e.user_id = s.user_id AND e.ts >= s.snap_ts
"""


def _purchase_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("snap_ts"))
        .agg(F.max("value").alias("purchase_value"))
    )


def q_asof_events_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """direction='forward': each event matched to the user's NEXT purchase
    (time-to-conversion shape — forward label lookahead is the point here,
    not a leak). Oracle is DuckDB's forward ASOF (e.ts <= snap_ts)."""
    from taxahfe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _purchase_snap(spark, sf_dir), on="user_id", left_ts="ts",
        right_ts="snap_ts", value_cols=["purchase_value"], strategy="union",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("purchase_value", 4).alias("next_purchase_value"),
    )


_ASOF_FORWARD_ORACLE = """
WITH pur AS (
  SELECT user_id, ts AS snap_ts, max(value) AS pv
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       round(p.pv, 4) AS next_purchase_value
FROM events e ASOF LEFT JOIN pur p
  ON e.user_id = p.user_id AND e.ts <= p.snap_ts
"""


def q_asof_events_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """direction='nearest' on the zero-shuffle broadcast probe: closest
    purchase either way, ties backward (pandas semantics). Oracle composes
    DuckDB's two ASOF directions and replays the tie rule."""
    from taxahfe_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = asof_join(
        ev, _purchase_snap(spark, sf_dir), on="user_id", left_ts="ts",
        right_ts="snap_ts", value_cols=["purchase_value"],
        strategy="broadcast", direction="nearest",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round("purchase_value", 4).alias("nearest_purchase_value"),
    )


_ASOF_NEAREST_ORACLE = """
WITH pur AS (
  SELECT user_id, ts AS snap_ts, max(value) AS pv
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
b AS (
  SELECT e.event_id, e.user_id, e.ts, p.snap_ts AS bts, p.pv AS bv
  FROM events e ASOF LEFT JOIN pur p
    ON e.user_id = p.user_id AND e.ts >= p.snap_ts
),
f AS (
  SELECT e.event_id, p.snap_ts AS fts, p.pv AS fv
  FROM events e ASOF LEFT JOIN pur p
    ON e.user_id = p.user_id AND e.ts <= p.snap_ts
)
SELECT b.event_id, b.user_id, b.ts,
       round(
         CASE WHEN b.bts IS NOT NULL
                   AND (f.fts IS NULL OR (b.ts - b.bts) <= (f.fts - b.ts))
              THEN b.bv ELSE f.fv END,
         4
       ) AS nearest_purchase_value
FROM b JOIN f USING (event_id)
"""


def q_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.windows import lag_lead_features

    ev = _t(spark, sf_dir, "events")
    out = lag_lead_features(ev, "user_id", "ts", ["value"], tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "ts",
        F.round("value", 4).alias("value"),
        F.round("value_lag1", 4).alias("value_lag1"),
        F.round("value_lead1", 4).alias("value_lead1"),
        F.round("value_delta", 4).alias("value_delta"),
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", 3600.0, tiebreak="event_id").select(
        "event_id", "user_id", "ts", "session_id"
    )


def q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.windows import session_stats

    ev = _t(spark, sf_dir, "events")
    out = session_stats(
        ev, "user_id", "ts", 3600.0, agg_cols={"value": "sum"}, tiebreak="event_id"
    )
    return out.select(
        "user_id", "session_id", "session_start", "session_end",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("duration_seconds", 3).alias("duration_seconds"),
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.windows import locf

    ev = _t(spark, sf_dir, "events").withColumn(
        "click_value", F.when(F.col("event_type") == "click", F.col("value"))
    )
    out = locf(ev, "user_id", "ts", ["click_value"], tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "ts",
        F.round("click_value", 4).alias("click_value"),
        F.round("click_value_filled", 4).alias("click_value_locf"),
    )


def q_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.windows import per_key_slope

    ev = _t(spark, sf_dir, "events")
    out = per_key_slope(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.round((F.col("slope") * 1e6), 6).alias("slope_per_mega_sec"),
        F.round("mean_value", 6).alias("mean_value"),
        F.col("n_obs").cast("long").alias("n_obs"),
    )


def q_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.tokens import tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    return seqs.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, v: a + v).alias("tok_sum"),
        F.col("tokens")[0].cast("long").alias("tok_first"),
        F.element_at("tokens", -1).cast("long").alias("tok_last"),
    )


_TOKENIZE_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (SELECT doc_id, unnest(words) AS word FROM dw),
sums AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(v.token_id) AS BIGINT) AS tok_sum
  FROM ex e JOIN vocab v USING (word) GROUP BY 1
),
fl AS (
  SELECT dw.doc_id, vf.token_id AS tok_first, vl.token_id AS tok_last
  FROM dw
  JOIN vocab vf ON vf.word = dw.words[1]
  JOIN vocab vl ON vl.word = dw.words[-1]
  WHERE len(dw.words) > 0
)
SELECT s.doc_id, s.n_tok, s.tok_sum, f.tok_first, f.tok_last
FROM sums s JOIN fl f USING (doc_id)
"""


def q_token_rollup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8 plan restructure (same result, same oracle): the rollup output is a
    # pure function of each document's word MULTISET, and the word->token_id
    # mapping is a bijection, so routing the stream through tokenize() only
    # to re-explode the assembled arrays (collect_list + array_sort + explode
    # round trip) and join the taxonomy on token_id computed work the query
    # throws away. The word stream now joins the SAME taxonomy keyed by word
    # via token_count_rollup_stream; build_vocab still provides the taxonomy
    # frame (its ranking window is pruned by Catalyst because token_id is
    # unused - exactly the point).
    from taxahfe_spark.tokens import build_vocab, token_count_rollup_stream, words

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(words(docs, "text"))
    tax_w = vocab.select(
        "word",
        F.concat_ws("|", F.substring("word", 1, 1), "word").alias("clade_path"),
    )
    par = spark.sparkContext.defaultParallelism
    tok = (
        words(docs, "text")
        .repartition(par * 2)
        .select("doc_id", F.explode("words").alias("word"))
    )
    out = token_count_rollup_stream(tok, tax_w, token_col="word")
    return out.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        "path",
        F.col("level").cast("long").alias("level"),
        F.col("value").alias("cnt"),
    )


_TOKEN_ROLLUP_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
ex AS (SELECT doc_id, unnest(words) AS word FROM dw),
l2 AS (
  SELECT doc_id, substr(word,1,1) || '|' || word AS path, 2 AS level,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM ex GROUP BY 1, 2
),
l1 AS (
  SELECT doc_id, substr(word,1,1) AS path, 1 AS level,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM ex GROUP BY 1, 2
)
SELECT doc_id, path, CAST(level AS BIGINT) AS level, cnt FROM l2
UNION ALL
SELECT doc_id, path, CAST(level AS BIGINT) AS level, cnt FROM l1
"""


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "source")


_EXACT_DEDUP_ORACLE = """
WITH k AS (
  SELECT *, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
keep AS (SELECT norm, min(doc_id) AS doc_id FROM k GROUP BY 1)
SELECT k.doc_id, k.lang, k.source FROM k JOIN keep USING (norm, doc_id)
"""


def q_text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.textstats import text_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stopword_coverage", 6).alias("stopword_coverage"),
        F.round("unique_word_ratio", 6).alias("unique_word_ratio"),
        F.round("quality_score", 4).alias("quality_score"),
    )


_EN_LIST = "[" + ",".join(f"'{w}'" for w in EN_STOP) + "]"
_TEXT_QUALITY_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
st AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS upper_ratio,
         CAST(len(list_intersect(words, {_EN_LIST})) AS DOUBLE) / 16.0 AS stopword_coverage,
         CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS unique_word_ratio
  FROM dw
)
SELECT doc_id, n_words,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(upper_ratio, 6) AS upper_ratio,
       round(stopword_coverage, 6) AS stopword_coverage,
       round(unique_word_ratio, 6) AS unique_word_ratio,
       round(round(
         least(n_words / 20.0, 1.0) * 0.25
         + alpha_ratio * 0.25
         + (1.0 - least(digit_ratio * 4, 1.0)) * 0.15
         + stopword_coverage * 0.15
         + unique_word_ratio * 0.20, 6), 4) AS quality_score
FROM st
"""


def q_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (GPT-3/CCNet idiom): frozen logistic
    coefficients inlined as literals over text_stats features — the whole
    scoring chain (feature extraction + sigmoid) recomputed by DuckDB from
    raw text. Training (pyspark.ml LBFGS) is gated in pytest against an
    independent numpy IRLS MLE (tests/test_quality_model.py)."""
    from taxahfe_spark.functions.quality_model import score_quality

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = score_quality(docs)
    return out.select("doc_id", F.round("model_quality", 6).alias("model_quality"))


_QUALITY_MODEL_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
st AS (
  SELECT doc_id,
         ln(1.0 + len(words)) AS log1p_n_words,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS digit_ratio,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS upper_ratio,
         CAST(len(list_intersect(words, {_EN_LIST})) AS DOUBLE) / 16.0 AS stopword_coverage,
         CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS unique_word_ratio
  FROM dw
),
z AS (
  SELECT doc_id,
         -1.5 + 2.0 * alpha_ratio - 3.0 * digit_ratio - 1.0 * upper_ratio
         + 2.5 * stopword_coverage + 1.0 * unique_word_ratio
         + 0.25 * log1p_n_words AS zz
  FROM st
)
SELECT doc_id, round(1.0 / (1.0 + exp(-zz)), 6) AS model_quality FROM z
"""


def q_language_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


def _lang_oracle() -> str:
    lists = {
        "de": DE_STOP, "en": EN_STOP, "es": ES_STOP, "fr": FR_STOP,
    }
    hit_cols = ",\n         ".join(
        f"len(list_intersect(words, [{','.join(repr(w) for w in wl)}])) AS hits_{lang}"
        for lang, wl in lists.items()
    )
    langs = sorted(lists)
    best = f"greatest({', '.join('hits_' + la for la in langs)})"
    case = "CASE "
    for la in langs:
        case += f"WHEN hits_{la} = {best} AND {best} > 0 THEN '{la}' "
    case += "ELSE 'unknown' END"
    return f"""
WITH dw AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
h AS (
  SELECT doc_id, lang,
         {hit_cols}
  FROM dw
)
SELECT doc_id, lang, {case} AS lang_pred FROM h
"""


def q_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.textstats import token_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_counts(docs).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tok_est4").cast("long").alias("n_tok_est4"),
    )


_TOKEN_COUNTS_ORACLE = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_words,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tok_est4
FROM documents
"""


def q_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2, max_df=None)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


_NGRAM_JACCARD_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, ng FROM (
    SELECT doc_id,
           unnest([array_to_string(words[i:i+2], ' ')
                   for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS ng
    FROM dw
  )
),
sz AS (SELECT doc_id, count(*) AS sz FROM ng GROUP BY 1),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM ng x JOIN ng y USING (ng)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.2
"""


def q_dedup_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the tokenized-sequence shape (north-rule input_hint):
    tokenize, truncate to 2-token prefixes to manufacture duplicates, keep
    the min-id row per distinct sequence. Phase-1 hash aggregation never
    shuffles arrays; phase-2 verifies full arrays only inside repeated-hash
    groups, so the result is exact under hash collisions."""
    from taxahfe_spark.tokens import dedup_sequences, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    pref = seqs.select("doc_id", F.slice("tokens", 1, 2).alias("pfx"))
    kept = dedup_sequences(pref, "pfx", "doc_id")
    return kept.select(
        "doc_id",
        F.size("pfx").cast("long").alias("pfx_len"),
        F.aggregate(
            "pfx", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("pfx_sum"),
    )


_DEDUP_SEQ_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (
  SELECT doc_id, unnest(words) AS word,
         unnest(range(1, len(words) + 1)) AS pos
  FROM dw
),
toks AS (
  SELECT e.doc_id, (list(v.token_id ORDER BY e.pos))[1:2] AS pfx
  FROM ex e JOIN vocab v USING (word) GROUP BY e.doc_id
),
kept AS (SELECT pfx, min(doc_id) AS doc_id FROM toks GROUP BY pfx)
SELECT doc_id, CAST(len(pfx) AS BIGINT) AS pfx_len,
       CAST(list_aggregate(pfx, 'sum') AS BIGINT) AS pfx_sum
FROM kept
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring removal (Lee et al. 2022-style) over the
    tokenized-sequence shape: every token position covered by a 2-token
    window that occurs more than once in the corpus is dropped. k=2 so the
    synthetic docs actually contain cross-doc repeats. Returns per-doc
    clean length / removed count / clean token-id sum (arrays themselves
    are not hash-compared across engines)."""
    from taxahfe_spark.tokens import substring_dedup, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = substring_dedup(seqs, "tokens", "doc_id", k=2)
    return out.select(
        "doc_id",
        F.col("n_tok_clean").cast("long").alias("n_tok_clean"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.aggregate(
            "tokens_clean", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("clean_sum"),
    )


_SUBSTRING_DEDUP_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (
  SELECT doc_id, unnest(words) AS word,
         unnest(range(1, len(words) + 1)) AS pos
  FROM dw
),
toks AS (
  SELECT e.doc_id, list(v.token_id ORDER BY e.pos) AS tokens
  FROM ex e JOIN vocab v USING (word) GROUP BY e.doc_id
),
gpos AS (
  SELECT doc_id, tokens,
         unnest(range(1, greatest(len(tokens) - 2 + 1, 0) + 1)) AS p
  FROM toks
),
g AS (SELECT doc_id, p, tokens[p:p+1] AS gram FROM gpos),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
rm AS (
  SELECT DISTINCT g.doc_id, unnest(range(g.p, g.p + 2)) AS q
  FROM g JOIN dup USING (gram)
),
tokpos AS (
  SELECT doc_id, unnest(tokens) AS tok,
         unnest(range(1, len(tokens) + 1)) AS q
  FROM toks
)
SELECT tp.doc_id,
       CAST(count(*) FILTER (r.q IS NULL) AS BIGINT) AS n_tok_clean,
       CAST(count(*) FILTER (r.q IS NOT NULL) AS BIGINT) AS n_removed,
       CAST(coalesce(sum(tp.tok) FILTER (r.q IS NULL), 0) AS BIGINT) AS clean_sum
FROM tokpos tp
LEFT JOIN rm r ON r.doc_id = tp.doc_id AND r.q = tp.q
GROUP BY 1
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (mean token log-prob, frequencies fit on
    the corpus itself) over the tokenized-sequence shape — the cheap
    perplexity proxy from the web-corpus filtering literature."""
    from taxahfe_spark.tokens import tokenize, unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = unigram_logprob(seqs, "tokens", "doc_id")
    return out.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"), "mean_logp")


_UNIGRAM_LOGPROB_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
tokflat AS (SELECT doc_id, unnest(words) AS word FROM dw),
freq AS (SELECT word, count(*) AS c FROM tokflat GROUP BY 1),
total AS (SELECT sum(c) AS t FROM freq)
SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       round(avg(ln(CAST(fr.c AS DOUBLE) / (SELECT t FROM total))), 6) AS mean_logp
FROM tokflat f JOIN freq fr USING (word)
GROUP BY 1
"""


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText intra-document repetition filters (dup-word
    fraction, dup-2-gram fraction, top-2-gram share) over the documents
    table."""
    from taxahfe_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id", n=2)


_REPETITION_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
w AS (SELECT doc_id, words FROM dw WHERE len(words) > 0),
g AS (
  SELECT doc_id,
         unnest([array_to_string(words[i:i+1], ' ')
                 for i in range(1, greatest(len(words) - 1, 1) + 1)]) AS ng
  FROM w
),
pg AS (SELECT doc_id, ng, count(*) AS c FROM g GROUP BY 1, 2),
ga AS (
  SELECT doc_id, sum(c) AS n2, count(*) AS ndist, max(c) AS top
  FROM pg GROUP BY 1
),
uni AS (
  SELECT doc_id, count(DISTINCT word) AS wdist
  FROM (SELECT doc_id, unnest(words) AS word FROM w) GROUP BY 1
),
nw AS (SELECT doc_id, len(words) AS n_words FROM w)
SELECT nw.doc_id, CAST(nw.n_words AS BIGINT) AS n_words,
       round(1 - CAST(u.wdist AS DOUBLE) / nw.n_words, 6) AS dup_word_frac,
       round(1 - CAST(ga.ndist AS DOUBLE) / ga.n2, 6) AS dup_ngram_frac,
       round(CAST(ga.top AS DOUBLE) / ga.n2, 6) AS top_ngram_share
FROM nw JOIN ga USING (doc_id) JOIN uni u USING (doc_id)
"""


def q_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: docs with
    doc_id < 20 play the eval benchmark, the rest are the training side
    scored for n-gram leakage. (Graft operator — LLM-pipeline family.)"""
    from taxahfe_spark.operators.textstats import contamination_score

    docs = _t(spark, sf_dir, "documents")
    out = contamination_score(
        docs.filter("doc_id >= 20"), docs.filter("doc_id < 20"), n=3
    )
    return out.select("doc_id", "n_ngrams", "n_matched", "contamination")


_CONTAMINATION_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
ng AS (
  SELECT DISTINCT doc_id, ng FROM (
    SELECT doc_id,
           unnest([array_to_string(words[i:i+2], ' ')
                   for i in range(1, greatest(len(words) - 2, 1) + 1)]) AS ng
    FROM dw
    WHERE len(words) > 0  -- zero-word docs contribute no grams (engine parity)
  )
),
bench AS (SELECT DISTINCT ng FROM ng WHERE doc_id < 20),
doc AS (SELECT doc_id, ng FROM ng WHERE doc_id >= 20),
tot AS (SELECT doc_id, count(*) AS n_ngrams FROM doc GROUP BY 1),
mat AS (
  SELECT d.doc_id, count(*) AS n_matched
  FROM doc d JOIN bench b USING (ng) GROUP BY 1
)
SELECT t.doc_id, t.n_ngrams, coalesce(m.n_matched, 0) AS n_matched,
       round(CAST(coalesce(m.n_matched, 0) AS DOUBLE) / t.n_ngrams, 6)
           AS contamination
FROM tot t LEFT JOIN mat m ON t.doc_id = m.doc_id
"""


def q_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxahfe_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter("vec_id < 20"), emb, k=5)
    return out.select(
        "query_id", "match_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k run at nprobe == n_centroids (exhaustive probing):
    value-identical to the brute-force baseline by construction, so the
    brute-force SQL is a true independent oracle for the whole IVF
    machinery — seeded k-means quantizer, in-scan assignment, per-list
    scoring, local top-k pruning. Recall at nprobe < n_centroids is pinned
    in tests/test_pipeline_ops.py. (Graft operator — the reference R engine
    has no ANN; SURVEY LLM-pipeline family.)"""
    from taxahfe_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb.filter("vec_id < 20"), emb, k=5, n_centroids=8, nprobe=8, seed=42
    )
    return out.select(
        "query_id", "match_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_COSINE_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS match_id, embedding AS c_vec FROM embeddings),
dots AS (
  SELECT query_id, match_id,
         list_aggregate(list_transform(list_zip(q_vec, c_vec),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') AS dot,
         sqrt(list_aggregate(list_transform(q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS nq,
         sqrt(list_aggregate(list_transform(c_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS nc
  FROM c CROSS JOIN q
  WHERE query_id <> match_id
),
scored AS (
  SELECT query_id, match_id, round(dot / nullif(nq * nc, 0), 8) AS cosine
  FROM dots
),
ranked AS (
  SELECT query_id, match_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, match_id, round(cosine, 4) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix downsampling (md5-ranked within source)."""
    from taxahfe_spark.tokens import sample_by_source

    docs = _t(spark, sf_dir, "documents")
    out = sample_by_source(docs, {"src0": 0.25, "src1": 0.5}, seed=7)
    return out.select("doc_id", "source", "lang")


_SAMPLE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, lang,
         row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, lang FROM ranked
WHERE rn <= ceil(n * (CASE source WHEN 'src0' THEN 0.25
                                  WHEN 'src1' THEN 0.5 ELSE 1.0 END))
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mix (tau=0.5, mass = chars): the XLM-R source-
    sampling rule. The oracle re-derives the per-source rates from the
    corpus masses in SQL (power/normalize/budget) and replays the
    md5-ranked keep set, so the whole chain is value-gated."""
    from taxahfe_spark.tokens import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix(docs, tau=0.5, weight_col="n_chars", seed=11)
    return out.select("doc_id", "source")


_TEMPERATURE_MIX_ORACLE = """
WITH mass AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS m FROM documents GROUP BY source
),
tot AS (SELECT sum(m) AS t FROM mass),
pw AS (SELECT source, m, pow(m / t, 0.5) AS pp FROM mass, tot),
z AS (SELECT sum(pp) AS z FROM pw),
pr AS (SELECT source, m, pp / z AS p FROM pw, z),
budget AS (SELECT min(m / p) AS b FROM pr),
rates AS (
  SELECT source, round(least(1.0, p * b / m), 12) AS rate FROM pr, budget
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':11'), doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT r.doc_id, r.source
FROM ranked r JOIN rates s USING (source)
WHERE r.rn <= ceil(r.n * s.rate)
"""


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware holdout split (eval / quarantine / train). Texts are
    truncated to 25 chars in the query so the synthetic corpus actually
    contains cross-boundary duplicates and the quarantine branch is
    exercised; the oracle mirrors the truncation and replays the md5-rank
    eval cut plus the normalized-content leak check."""
    from taxahfe_spark.tokens import holdout_split

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 25).alias("text")
    )
    out = holdout_split(docs, frac=0.05, seed=9)
    return out.select("doc_id", "split")


_HOLDOUT_ORACLE = """
WITH t AS (
  SELECT doc_id, substr(text, 1, 25) AS text FROM documents
),
ranked AS (
  SELECT doc_id,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
         row_number() OVER (
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':9:0'), doc_id
         ) - 1 AS pos,
         count(*) OVER () AS n
  FROM t
),
ev AS (SELECT DISTINCT norm FROM ranked WHERE pos < ceil(n * 0.05))
SELECT doc_id,
       CASE WHEN pos < ceil(n * 0.05) THEN 'eval'
            WHEN norm IN (SELECT norm FROM ev) THEN 'quarantine'
            ELSE 'train' END AS split
FROM ranked
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup over the north-rule sequence shape: the
    'new batch' (doc_id < 250, 2-token prefixes to manufacture duplicates)
    self-dedups collision-exactly, then drops rows whose content already
    exists in the 'corpus' (doc_id >= 200) via a hash-only anti join — the
    corpus arrays never move. Oracle replays tokenize + min-id batch dedup
    + anti join on the corpus's distinct prefixes."""
    from taxahfe_spark.tokens import incremental_dedup_sequences, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    pref = seqs.select("doc_id", F.slice("tokens", 1, 2).alias("pfx"))
    new = pref.filter("doc_id < 250")
    corpus = pref.filter("doc_id >= 200")
    kept = incremental_dedup_sequences(new, corpus, tokens_col="pfx")
    return kept.select(
        "doc_id",
        F.size("pfx").cast("long").alias("pfx_len"),
        F.aggregate(
            "pfx", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("pfx_sum"),
    )


_INCR_DEDUP_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (
  SELECT doc_id, unnest(words) AS word,
         unnest(range(1, len(words) + 1)) AS pos
  FROM dw
),
toks AS (
  SELECT e.doc_id, (list(v.token_id ORDER BY e.pos))[1:2] AS pfx
  FROM ex e JOIN vocab v USING (word) GROUP BY e.doc_id
),
batch AS (
  SELECT pfx, min(doc_id) AS doc_id FROM toks WHERE doc_id < 250 GROUP BY pfx
),
corpus AS (SELECT DISTINCT pfx FROM toks WHERE doc_id >= 200)
SELECT b.doc_id, CAST(len(b.pfx) AS BIGINT) AS pfx_len,
       CAST(list_aggregate(b.pfx, 'sum') AS BIGINT) AS pfx_sum
FROM batch b ANTI JOIN corpus c ON b.pfx = c.pfx
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus card: doc/char/word counts, distinct-content
    count, exact-dup fraction, mean heuristic quality — the dataset summary
    a pipeline publishes. Oracle replays text_stats + normalized-dup
    counting per group."""
    from taxahfe_spark.tokens import corpus_report

    docs = _t(spark, sf_dir, "documents")
    out = corpus_report(docs)
    return out.select(
        "source", "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "dup_frac", "mean_quality",
    )


_CORPUS_REPORT_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, source, lang, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words,
         regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
st AS (
  SELECT source, lang, norm,
         length(text) AS n_chars,
         len(words) AS n_words,
         round(
           least(len(words) / 20.0, 1.0) * 0.25
           + (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1)) * 0.25
           + (1.0 - least((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1)) * 4, 1.0)) * 0.15
           + (CAST(len(list_intersect(words, {_EN_LIST})) AS DOUBLE) / 16.0) * 0.15
           + (CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1)) * 0.20,
         6) AS quality
  FROM dw
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       count(DISTINCT norm) AS n_distinct,
       round(1.0 - CAST(count(DISTINCT norm) AS DOUBLE) / count(*), 6) AS dup_frac,
       round(avg(quality), 6) AS mean_quality
FROM st GROUP BY source, lang
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction value gate. The synthetic corpus has no natural PII, so
    the query INJECTS deterministic PII-shaped spans (email / url / phone /
    ipv4 derived from doc_id) before scrubbing — the oracle performs the
    identical injection + regex replay, so the whole scrub chain (patterns,
    counts, placeholder rewrite) is value-checked via md5 of the scrubbed
    text."""
    from taxahfe_spark.operators.textstats import pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id").cast("string")
    injected = docs.withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" reach user"), d, F.lit("@mail-example.org or https://site"),
            d, F.lit(".example/p?q=1 call +1 (555) 010-0"), d,
            F.lit("99 from 10.0."), (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 now"),
        ),
    )
    out = pii_scrub(injected)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_url").cast("long").alias("n_url"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


_PII_SCRUB_ORACLE = r"""
WITH injected AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@mail-example.org or https://site' || CAST(doc_id AS VARCHAR)
              || '.example/p?q=1 call +1 (555) 010-0' || CAST(doc_id AS VARCHAR)
              || '99 from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7 now'
           AS text
  FROM documents
),
counted AS (
  SELECT doc_id, text,
         len(regexp_split_to_array(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_email,
         len(regexp_split_to_array(text, 'https?://[^\s]+')) - 1 AS n_url,
         len(regexp_split_to_array(text, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) - 1 AS n_phone,
         len(regexp_split_to_array(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) - 1 AS n_ipv4
  FROM injected
),
scrubbed AS (
  SELECT doc_id, n_email, n_url, n_phone, n_ipv4,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IPV4>', 'g'),
             '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g'),
           'https?://[^\s]+', '<URL>', 'g') AS text_scrubbed
  FROM counted
)
SELECT doc_id, n_email, n_url, n_phone, n_ipv4, md5(text_scrubbed) AS scrub_md5
FROM scrubbed
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-filter rule chain, every rule replayed in
    SQL (reasons joined to one string for the compare)."""
    from taxahfe_spark.operators.textstats import gopher_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = gopher_rules(docs, min_words=40)
    return out.select(
        "doc_id", "keep", F.array_join("reject_reasons", ",").alias("reasons")
    )


_GOPHER_ORACLE = f"""
WITH dw AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
st AS (
  SELECT doc_id,
         len(words) AS n_words,
         coalesce(list_aggregate(list_transform(words, w -> CAST(length(w) AS DOUBLE)), 'sum'), 0.0)
           / greatest(len(words), 1) AS mean_wl,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio,
         len(list_intersect(words, {_EN_LIST})) AS stop_hits,
         1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / greatest(len(words), 1) AS dup_word_frac
  FROM dw
),
r AS (
  SELECT doc_id,
         list_filter([
           CASE WHEN n_words < 40 THEN 'too_few_words' END,
           CASE WHEN n_words > 100000 THEN 'too_many_words' END,
           CASE WHEN mean_wl < 3.0 OR mean_wl > 10.0 THEN 'mean_word_len_out_of_range' END,
           CASE WHEN alpha_ratio < 0.70 THEN 'low_alpha_ratio' END,
           CASE WHEN stop_hits < 2 THEN 'too_few_stopwords' END,
           CASE WHEN dup_word_frac > 0.30 THEN 'high_dup_word_frac' END
         ], x -> x IS NOT NULL) AS reasons
  FROM st
)
SELECT doc_id, len(reasons) = 0 AS keep,
       coalesce(list_aggregate(reasons, 'string_agg', ','), '') AS reasons
FROM r
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global training order (md5-ranked): dense
    positions, layout-invariant, replayed by the oracle's row_number over
    the same md5 key."""
    from taxahfe_spark.tokens import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = epoch_shuffle(docs, seed=7, epoch=3)
    return out.select("doc_id", F.col("shuffle_pos").cast("long").alias("shuffle_pos"))


_EPOCH_SHUFFLE_ORACLE = """
SELECT doc_id,
       row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7:3'), doc_id
       ) - 1 AS shuffle_pos
FROM documents
"""


def q_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap (max_len=32, stride=16): one
    training row per window, arrays digested as (len, sum) per the repo's
    array-compare convention. Oracle replays tokenize + generate_series
    offsets + list slicing in SQL."""
    from taxahfe_spark.tokens import chunk_sequences, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = chunk_sequences(seqs, max_len=32, stride=16)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_off").cast("long").alias("chunk_off"),
        F.col("n_chunk_tok").cast("long").alias("n_chunk_tok"),
        F.aggregate(
            "chunk", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("chunk_sum"),
    )


_CHUNK_SEQ_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (
  SELECT doc_id, unnest(words) AS word,
         unnest(range(1, len(words) + 1)) AS pos
  FROM dw
),
toks AS (
  SELECT e.doc_id, list(v.token_id ORDER BY e.pos) AS tokens
  FROM ex e JOIN vocab v USING (word) GROUP BY e.doc_id
),
offs AS (
  SELECT doc_id, tokens, unnest(range(0, len(tokens), 16)) AS off
  FROM toks WHERE len(tokens) > 0
),
ch AS (
  SELECT doc_id,
         CAST(off / 16 AS BIGINT) AS chunk_id,
         CAST(off AS BIGINT) AS chunk_off,
         tokens[off + 1 : off + 32] AS chunk
  FROM offs
)
SELECT doc_id, chunk_id, chunk_off,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tok,
       CAST(list_aggregate(chunk, 'sum') AS BIGINT) AS chunk_sum
FROM ch
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (chunked cumulative bins per source)."""
    from taxahfe_spark.tokens import pack_sequences, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id", extra_cols=["source"])
    out = pack_sequences(seqs, budget=512)
    return out.select(
        "doc_id", "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("bin").cast("long").alias("bin"),
        F.col("bin_pos").cast("long").alias("bin_pos"),
    )


_PACK_ORACLE = """
WITH dw AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
nz AS (SELECT * FROM dw WHERE n_tok > 0),
c AS (
  SELECT doc_id, source, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM nz
),
b AS (
  SELECT doc_id, source, n_tok,
         CAST(floor(cum_before / 512.0) AS BIGINT) AS bin
  FROM c
)
SELECT doc_id, source, n_tok, bin,
       CAST(row_number() OVER (PARTITION BY source, bin ORDER BY doc_id) - 1
            AS BIGINT) AS bin_pos
FROM b
"""


def q_cosine_allpairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-dup (the correctness baseline for
    ann_self_pairs, which is LSH-bucketed and hash-randomized -> pytest)."""
    from taxahfe_spark.operators.similarity import cosine_allpairs

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_allpairs(emb, threshold=0.4)
    return out.select("a", "b", F.round("cosine", 6).alias("cosine"))


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding-cosine near-dup: exact pairs at cosine >= 0.4 ->
    connected components (pointer-shortcut min-label) -> min-id canonical
    keeper per component, one output row per input vector. The oracle
    replays the whole chain in SQL: brute-force pair generation plus a
    recursive-CTE transitive closure for the component labels, so the
    component machinery (not just pair scoring) is value-gated. The LSH
    candidate path (method="lsh") is recall-pinned in pytest."""
    from taxahfe_spark.operators.similarity import embedding_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_dedup(emb, threshold=0.4, method="exact")
    return out.select(
        "vec_id",
        F.col("rep_id").cast("long").alias("rep_id"),
        "keep",
    )


_EMBEDDING_DEDUP_ORACLE = """
WITH RECURSIVE
v AS (SELECT vec_id, embedding FROM embeddings),
d AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM v x JOIN v y ON x.vec_id < y.vec_id
  WHERE round(
           list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / nullif(
               sqrt(list_aggregate(list_transform(x.embedding,
                   e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), 'sum'))
             * sqrt(list_aggregate(list_transform(y.embedding,
                   e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), 'sum')), 0),
           8) >= 0.4
),
e AS (SELECT a AS u, b AS w FROM d UNION ALL SELECT b, a FROM d),
reach(node, lab) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT e.w, reach.lab FROM reach JOIN e ON e.u = reach.node
)
SELECT node AS vec_id,
       min(lab) AS rep_id,
       CAST(node = min(lab) AS BOOLEAN) AS keep
FROM reach GROUP BY node
"""


_COSINE_ALLPAIRS_ORACLE = """
WITH v AS (SELECT vec_id, embedding FROM embeddings),
d AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(
           list_aggregate(list_transform(list_zip(x.embedding, y.embedding),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / nullif(
               sqrt(list_aggregate(list_transform(x.embedding,
                   e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), 'sum'))
             * sqrt(list_aggregate(list_transform(y.embedding,
                   e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), 'sum')), 0),
           8) AS cosine
  FROM v x JOIN v y ON x.vec_id < y.vec_id
)
SELECT a, b, round(cosine, 6) AS cosine FROM d WHERE cosine >= 0.4
"""


def q_pit_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time token rollup: docs become (doc, ts) events, the word
    taxonomy has two snapshot versions (prefix v1/v2) so leakage is
    detectable: ts in [100,200) must see v1, >= 200 must see v2."""
    # r8 plan restructure (same result, same oracle — the
    # q_token_rollup_docs idiom applied here): the PIT rollup is a pure
    # function of each (doc, ts) row's word MULTISET and word<->token_id is
    # a bijection, so assembling token arrays via tokenize() only to
    # re-explode them (collect_list + array_sort + explode round trip, one
    # extra exchange) computed work the query throws away. The word stream
    # now joins the SAME snapshot taxonomy keyed by word via
    # point_in_time_token_features_stream; build_vocab still supplies the
    # snapshot frame (its ranking window is pruned by Catalyst because
    # token_id is unused).
    from taxahfe_spark.tokens import (
        build_vocab,
        point_in_time_token_features_stream,
        words,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(words(docs, "text"))
    par = spark.sparkContext.defaultParallelism
    tok = (
        words(docs, "text")
        .repartition(par * 2)
        .select(
            "doc_id",
            (F.lit(100) + F.col("doc_id") % 200).cast("long").alias("ts"),
            F.explode("words").alias("word"),
        )
    )
    snaps = vocab.select(
        F.lit(100).cast("long").alias("snapshot_ts"),
        "word",
        F.concat(F.lit("v1|"), F.substring("word", 1, 1)).alias("clade_path"),
    ).unionByName(
        vocab.select(
            F.lit(200).cast("long").alias("snapshot_ts"),
            "word",
            F.concat(F.lit("v2|"), F.substring("word", 1, 1)).alias("clade_path"),
        )
    )
    out = point_in_time_token_features_stream(
        tok, snaps, "doc_id", "ts", token_col="word"
    )
    return out.select(
        "doc_id", "ts", "path",
        F.col("level").cast("long").alias("level"),
        F.col("value").alias("cnt"),
    )


_PIT_ORACLE = """
WITH dw AS (
  SELECT doc_id, 100 + doc_id % 200 AS ts,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
ex AS (
  SELECT doc_id, ts,
         CASE WHEN ts >= 200 THEN 'v2' ELSE 'v1' END AS ver,
         unnest(words) AS word
  FROM dw
),
l2 AS (
  SELECT doc_id, ts, ver || '|' || substr(word,1,1) AS path, 2 AS level,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM ex GROUP BY 1, 2, 3
),
l1 AS (
  SELECT doc_id, ts, ver AS path, 1 AS level, CAST(count(*) AS DOUBLE) AS cnt
  FROM ex GROUP BY 1, 2, 3
)
SELECT doc_id, CAST(ts AS BIGINT) AS ts, path, CAST(level AS BIGINT) AS level, cnt FROM l2
UNION ALL
SELECT doc_id, CAST(ts AS BIGINT) AS ts, path, CAST(level AS BIGINT) AS level, cnt FROM l1
"""


_MH_LANES = 32  # md5-lane oracle config (production default is 64 x xxhash64)
_MH_BANDS = 8
_MH_CAP = 200


def q_minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH dedup with the md5-60bit lane hash — every stage
    (shingle md5, lane mins, band keys, bucket cap, est-Jaccard filter,
    one-hop drop) is replayed bit-identically by the DuckDB oracle, the same
    portability trick as simhash_docs. The production path keeps 64 xxhash64
    lanes (pytest-covered)."""
    from taxahfe_spark.operators.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, threshold=0.8, num_hashes=_MH_LANES, num_bands=_MH_BANDS,
        hash_fn="md5",
    ).select("doc_id", "lang", "source")


def _minhash_oracle() -> str:
    n, nb = _MH_LANES, _MH_BANDS
    rpb = n // nb
    h60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    lane_mins = ",\n       ".join(
        f"min({h60.format(x=f'h0 || ' + repr(f':{i}'))}) AS h{i}" for i in range(n)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_idx, ".format(b=b)
        + h60.format(
            x=" || ',' || ".join(
                f"h{b * rpb + i}::VARCHAR" for i in range(rpb)
            )
        )
        + " AS band_hash FROM lanes"
        for b in range(nb)
    )
    eq_terms = " + ".join(
        f"CASE WHEN la.h{i} = lb.h{i} THEN 1 ELSE 0 END" for i in range(n)
    )
    return f"""
WITH base AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
pos AS (
  SELECT doc_id, norm,
         unnest(generate_series(1, greatest(length(norm) - 5 + 1, 1))) AS p
  FROM base
),
sh AS (SELECT doc_id, md5(substr(norm, p, 5) || ':42') AS h0 FROM pos),
lanes AS (
  SELECT doc_id,
       {lane_mins}
  FROM sh GROUP BY doc_id
),
bands AS (
{band_selects}
),
hot AS (
  SELECT band_idx, band_hash FROM bands
  GROUP BY 1, 2 HAVING count(*) > {_MH_CAP}
),
banded AS (
  SELECT b.* FROM bands b
  LEFT JOIN hot h USING (band_idx, band_hash)
  WHERE h.band_idx IS NULL
),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y USING (band_idx, band_hash)
  WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT c.b
  FROM cand c
  JOIN lanes la ON la.doc_id = c.a
  JOIN lanes lb ON lb.doc_id = c.b
  WHERE ({eq_terms}) / {n}.0 >= 0.8
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT b FROM losers)
"""


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion (md5 lanes): the 'new batch'
    (doc_id < 250) is screened against the 'corpus' (doc_id >= 200) —
    texts truncated to 30 chars so the synthetic corpus genuinely contains
    cross-frame near-dups (incl. the 200-249 overlap, which must drop).
    The oracle replays shingle md5, lane mins, band keys, corpus-side
    bucket cap, candidate join, and the est-Jaccard >= 0.8 drop rule
    bit-identically."""
    from taxahfe_spark.operators.dedup import incremental_minhash_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 30).alias("text")
    )
    kept = incremental_minhash_dedup(
        docs.filter("doc_id < 250"),
        docs.filter("doc_id >= 200"),
        threshold=0.8,
        num_hashes=_MH_LANES,
        num_bands=_MH_BANDS,
        hash_fn="md5",
        max_bucket_size=_MH_CAP,
    )
    return kept.select("doc_id")


def _incr_minhash_oracle() -> str:
    n, nb = _MH_LANES, _MH_BANDS
    rpb = n // nb
    h60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
    lane_mins = ",\n       ".join(
        f"min({h60.format(x=f'h0 || ' + repr(f':{i}'))}) AS h{i}" for i in range(n)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_idx, ".format(b=b)
        + h60.format(
            x=" || ',' || ".join(
                f"h{b * rpb + i}::VARCHAR" for i in range(rpb)
            )
        )
        + " AS band_hash FROM lanes"
        for b in range(nb)
    )
    eq_terms = " + ".join(
        f"CASE WHEN la.h{i} = lb.h{i} THEN 1 ELSE 0 END" for i in range(n)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(trim(lower(substr(text, 1, 30))), '\\s+', ' ', 'g') AS norm
  FROM documents
),
pos AS (
  SELECT doc_id, norm,
         unnest(generate_series(1, greatest(length(norm) - 5 + 1, 1))) AS p
  FROM base
),
sh AS (SELECT doc_id, md5(substr(norm, p, 5) || ':42') AS h0 FROM pos),
lanes AS (
  SELECT doc_id,
       {lane_mins}
  FROM sh GROUP BY doc_id
),
bands AS (
{band_selects}
),
bn AS (SELECT * FROM bands WHERE doc_id < 250),
bc AS (SELECT * FROM bands WHERE doc_id >= 200),
hot AS (
  SELECT band_idx, band_hash FROM bc
  GROUP BY 1, 2 HAVING count(*) > {_MH_CAP}
),
bc2 AS (
  SELECT b.* FROM bc b
  LEFT JOIN hot h USING (band_idx, band_hash)
  WHERE h.band_idx IS NULL
),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM bn x JOIN bc2 y USING (band_idx, band_hash)
  GROUP BY 1, 2
),
losers AS (
  SELECT DISTINCT c.a
  FROM cand c
  JOIN lanes la ON la.doc_id = c.a
  JOIN lanes lb ON lb.doc_id = c.b
  WHERE ({eq_terms}) / {n}.0 >= 0.8
)
SELECT doc_id FROM documents
WHERE doc_id < 250 AND doc_id NOT IN (SELECT a FROM losers)
"""


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the md5-60bit word hash — bit-identical to the DuckDB
    oracle (the default xxhash64 variant has no DuckDB analog and is covered
    by pytest)."""
    from taxahfe_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, hash_fn="md5").select("doc_id", "simhash")


def _simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{i}"
        for i in range(60)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(60)
    )
    return f"""
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
wc AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt,
         ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(words) AS w FROM dw)
  GROUP BY 1, 2, 4
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM wc GROUP BY 1
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
"""


def q_hfe_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HFE collapse (RF competition; randomized-model decisions are not
    SQL-expressible -> rows-only check)."""
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe, winner_feature_matrix

    long, meta = supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(
        lowest_level=1, nperm=4, num_trees=5, seed=42, super_filter_nperm_factor=4
    )
    tree, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
    return winner_feature_matrix(tree, state, metadata=meta)


def q_hfe_corr_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic prefix of the full HFE collapse: rollup + filters +
    level-by-level correlation pruning with corr-only decisions (survivors
    win, parent loses; all-pruned -> parent wins). Exercises every collapse
    stage except the randomized RF — and is exactly SQL-expressible, so the
    flagship pipeline gets a value-level oracle."""
    from taxahfe_spark.operators.competition import CompetitionParams
    from taxahfe_spark.pipeline import taxa_hfe

    long, meta = supplier_hierarchy(spark, sf_dir)
    params = CompetitionParams(
        lowest_level=1, seed=42, competition_mode="corr_only",
        disable_super_filter=True,
    )
    _, state = taxa_hfe(meta, long, params=params, filter_prevalence=0.05)
    sdf = spark.createDataFrame(
        state[["path", "level", "passed_filters", "highly_correlated", "winner"]]
    )
    return sdf.select(
        "path",
        F.col("level").cast("long").alias("level"),
        "passed_filters",
        "highly_correlated",
        "winner",
    )


_HFE_CORR_COLLAPSE_ORACLE = r"""
WITH long AS (
  SELECT regexp_replace(lower(r_name || '|' || n_name || '|' || s_name),
                        '[^_|a-z0-9]', '', 'g') AS path,
         CAST(o_custkey AS VARCHAR) AS entity_id,
         CAST(sum(l_quantity) AS DOUBLE) AS value
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey  = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
nn AS (SELECT CAST(count(DISTINCT entity_id) AS DOUBLE) AS n FROM long),
l3 AS (SELECT path, entity_id, value FROM long),
l2 AS (
  SELECT regexp_replace(path, '\|[^|]*$', '') AS path, entity_id,
         sum(value) AS value
  FROM l3 GROUP BY 1, 2
),
l1 AS (
  SELECT regexp_replace(path, '\|[^|]*$', '') AS path, entity_id,
         sum(value) AS value
  FROM l2 GROUP BY 1, 2
),
resolved AS (
  SELECT path, 3 AS level, entity_id, value FROM l3
  UNION ALL SELECT path, 2, entity_id, value FROM l2
  UNION ALL SELECT path, 1, entity_id, value FROM l1
),
stats AS (
  SELECT path, min(level) AS level,
         sum(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS prev,
         sum(value) AS s1, sum(value * value) AS s2
  FROM resolved GROUP BY 1
),
flags AS (
  SELECT path, level,
         (prev > (SELECT n FROM nn) * 0.05)
           AND (s1 / (SELECT n FROM nn) > 0.0) AS passed
  FROM stats
),
-- level 3: leaves auto-win iff they pass filters (no children)
w3 AS (SELECT path, passed AS winner FROM flags WHERE level = 3),
-- level 2 competitions: passed parents vs their winner children;
-- Pearson over ALL n entities with implicit zeros, via raw moments
pc23 AS (
  SELECT c.path AS cpath, sum(p.value * c.value) AS spc
  FROM resolved c
  JOIN resolved p ON p.level = 2
                 AND p.path = regexp_replace(c.path, '\|[^|]*$', '')
                 AND p.entity_id = c.entity_id
  WHERE c.level = 3
  GROUP BY 1
),
corr23 AS (
  SELECT w3.path AS cpath, f2.path AS ppath,
         ((SELECT n FROM nn) * coalesce(pc.spc, 0) - sp.s1 * sc.s1)
           / nullif(sqrt(((SELECT n FROM nn) * sp.s2 - sp.s1 * sp.s1)
                       * ((SELECT n FROM nn) * sc.s2 - sc.s1 * sc.s1)), 0) AS r
  FROM w3
  JOIN flags f2 ON f2.path = regexp_replace(w3.path, '\|[^|]*$', '')
               AND f2.level = 2 AND f2.passed
  JOIN stats sp ON sp.path = f2.path
  JOIN stats sc ON sc.path = w3.path
  LEFT JOIN pc23 pc ON pc.cpath = w3.path
  WHERE w3.winner
),
agg2 AS (
  SELECT ppath, count(*) AS n_dw,
         sum(CASE WHEN r IS NOT NULL AND r >= 0.95 THEN 1 ELSE 0 END) AS n_pruned
  FROM corr23 GROUP BY 1
),
w2 AS (
  SELECT f.path,
         CASE WHEN NOT f.passed THEN FALSE
              WHEN a.ppath IS NULL THEN TRUE
              WHEN a.n_pruned = a.n_dw THEN TRUE
              ELSE FALSE END AS winner
  FROM flags f LEFT JOIN agg2 a ON a.ppath = f.path
  WHERE f.level = 2
),
pruned23 AS (
  SELECT cpath, (r IS NOT NULL AND r >= 0.95) AS pruned FROM corr23
),
s3 AS (
  SELECT w3.path,
         w3.winner AND NOT coalesce(p.pruned, FALSE) AS winner,
         coalesce(p.pruned, FALSE) AS hc
  FROM w3 LEFT JOIN pruned23 p ON p.cpath = w3.path
),
-- level 1: nearest descendant winners (winner nations, else their surviving
-- supplier winners — filter-failed nations are transparent)
dw1 AS (
  SELECT regexp_replace(path, '\|[^|]*$', '') AS ppath, path AS dpath
  FROM w2 WHERE winner
  UNION ALL
  SELECT regexp_replace(regexp_replace(s3.path, '\|[^|]*$', ''), '\|[^|]*$', ''),
         s3.path
  FROM s3
  JOIN w2 ON w2.path = regexp_replace(s3.path, '\|[^|]*$', '')
  WHERE s3.winner AND NOT w2.winner
),
pc1 AS (
  SELECT d.dpath, sum(p.value * c.value) AS spc
  FROM dw1 d
  JOIN resolved c ON c.path = d.dpath
  JOIN resolved p ON p.path = d.ppath AND p.entity_id = c.entity_id
  GROUP BY 1
),
corr1 AS (
  SELECT d.dpath, d.ppath,
         ((SELECT n FROM nn) * coalesce(pc.spc, 0) - sp.s1 * sc.s1)
           / nullif(sqrt(((SELECT n FROM nn) * sp.s2 - sp.s1 * sp.s1)
                       * ((SELECT n FROM nn) * sc.s2 - sc.s1 * sc.s1)), 0) AS r
  FROM dw1 d
  JOIN flags f1 ON f1.path = d.ppath AND f1.level = 1 AND f1.passed
  JOIN stats sp ON sp.path = d.ppath
  JOIN stats sc ON sc.path = d.dpath
  LEFT JOIN pc1 pc ON pc.dpath = d.dpath
),
agg1 AS (
  SELECT ppath, count(*) AS n_dw,
         sum(CASE WHEN r IS NOT NULL AND r >= 0.95 THEN 1 ELSE 0 END) AS n_pruned
  FROM corr1 GROUP BY 1
),
w1 AS (
  SELECT f.path,
         CASE WHEN NOT f.passed THEN FALSE
              WHEN a.ppath IS NULL THEN TRUE
              WHEN a.n_pruned = a.n_dw THEN TRUE
              ELSE FALSE END AS winner
  FROM flags f LEFT JOIN agg1 a ON a.ppath = f.path
  WHERE f.level = 1
),
pruned1 AS (
  SELECT dpath, (r IS NOT NULL AND r >= 0.95) AS pruned FROM corr1
),
final AS (
  SELECT s3.path,
         s3.winner AND NOT coalesce(p1.pruned, FALSE) AS winner,
         s3.hc OR coalesce(p1.pruned, FALSE) AS hc
  FROM s3 LEFT JOIN pruned1 p1 ON p1.dpath = s3.path
  UNION ALL
  SELECT w2.path,
         w2.winner AND NOT coalesce(p1.pruned, FALSE),
         coalesce(p1.pruned, FALSE)
  FROM w2 LEFT JOIN pruned1 p1 ON p1.dpath = w2.path
  UNION ALL
  SELECT path, winner, FALSE FROM w1
)
SELECT f.path, CAST(f.level AS BIGINT) AS level, f.passed AS passed_filters,
       x.hc AS highly_correlated, x.winner AS winner
FROM flags f JOIN final x USING (path)
"""


def _customer_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("subject_id"),
        F.when(F.col("c_acctbal") > 0, F.lit("pos")).otherwise(F.lit("neg")).alias(
            "feature_of_interest"
        ),
    )


def q_ml_split_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 0.8 split + 5-fold CV assignment (dietML M2/M4) with the
    md5 hash ranking, value-verified against the same ranking in DuckDB."""
    from taxahfe_spark.dietml import fold_assignments, stratified_split

    meta = _customer_meta(spark, sf_dir)
    split = stratified_split(meta, seed=42, hash_fn="md5")
    folds = fold_assignments(
        split.filter("is_train"), folds=5, repeats=1, seed=42, hash_fn="md5"
    ).drop("repeat")
    return (
        split.join(folds, "subject_id", "left")
        .select(
            "subject_id",
            "feature_of_interest",
            "is_train",
            F.col("fold").cast("long").alias("fold"),
        )
    )


_ML_SPLIT_ORACLE = """
WITH meta AS (
  SELECT CAST(c_custkey AS VARCHAR) AS subject_id,
         CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS feature_of_interest
  FROM customer
),
ranked AS (
  SELECT subject_id, feature_of_interest,
         row_number() OVER (
           PARTITION BY feature_of_interest
           ORDER BY md5(subject_id || ':42'), subject_id) AS rn,
         count(*) OVER (PARTITION BY feature_of_interest) AS n
  FROM meta
),
split AS (
  SELECT subject_id, feature_of_interest, rn <= ceil(0.8 * n) AS is_train
  FROM ranked
),
folds AS (
  SELECT subject_id,
         CAST((row_number() OVER (
           PARTITION BY feature_of_interest
           ORDER BY md5(subject_id || ':7961'), subject_id) - 1) % 5 AS BIGINT)
           AS fold
  FROM split WHERE is_train
)
SELECT s.subject_id, s.feature_of_interest, s.is_train, f.fold
FROM split s LEFT JOIN folds f USING (subject_id)
"""


def q_ml_null_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-model baseline (dietML M9): majority class fit on the md5 train
    split, reference classification null metric subset on test."""
    from taxahfe_spark.dietml import null_model_metrics, stratified_split

    meta = _customer_meta(spark, sf_dir)
    split = stratified_split(meta, seed=42, hash_fn="md5")
    m = null_model_metrics(
        split.filter("is_train"), split.filter("NOT is_train"),
        "feature_of_interest", "factor",
    )
    rows = [(k, round(float(v), 6)) for k, v in sorted(m.items())]
    return spark.createDataFrame(rows, "metric string, value double")


_ML_NULL_ORACLE = """
WITH meta AS (
  SELECT CAST(c_custkey AS VARCHAR) AS subject_id,
         CASE WHEN c_acctbal > 0 THEN 'pos' ELSE 'neg' END AS lab
  FROM customer
),
ranked AS (
  SELECT subject_id, lab,
         row_number() OVER (PARTITION BY lab
           ORDER BY md5(subject_id || ':42'), subject_id) AS rn,
         count(*) OVER (PARTITION BY lab) AS n
  FROM meta
),
split AS (SELECT subject_id, lab, rn <= ceil(0.8 * n) AS is_train FROM ranked),
maj AS (
  SELECT lab FROM split WHERE is_train
  GROUP BY lab ORDER BY count(*) DESC, lab ASC LIMIT 1
),
test AS (
  SELECT lab AS truth, (SELECT lab FROM maj) AS est
  FROM split WHERE NOT is_train
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM test),
classes AS (SELECT DISTINCT truth AS cls FROM test
            UNION SELECT DISTINCT est FROM test),
per AS (
  SELECT c.cls,
         (SELECT CAST(coalesce(count(*), 0) AS DOUBLE) FROM test WHERE truth = c.cls) AS row_m,
         (SELECT CAST(coalesce(count(*), 0) AS DOUBLE) FROM test WHERE est = c.cls) AS col_m,
         (SELECT CAST(coalesce(count(*), 0) AS DOUBLE) FROM test
          WHERE truth = c.cls AND est = c.cls) AS diag
  FROM classes c
),
scored AS (
  SELECT cls,
         CASE WHEN row_m > 0 THEN diag / row_m END AS recall,
         CASE WHEN ((SELECT n FROM nn) - row_m) > 0
              THEN ((SELECT n FROM nn) - row_m - col_m + diag)
                   / ((SELECT n FROM nn) - row_m) END AS spec,
         CASE WHEN col_m > 0 THEN diag / col_m END AS prec
  FROM per
),
f1s AS (
  SELECT cls,
         CASE WHEN prec IS NOT NULL AND recall IS NOT NULL AND (prec + recall) > 0
              THEN 2 * prec * recall / (prec + recall) ELSE 0.0 END AS f1,
         (recall + spec) / 2 AS balpart
  FROM scored
),
vals AS (
  SELECT 'accuracy' AS metric,
         (SELECT sum(diag) FROM per) / (SELECT n FROM nn) AS value
  UNION ALL
  SELECT 'bal_accuracy', (SELECT avg(balpart) FROM f1s)
  UNION ALL
  -- yardstick binary default (event_level="first"): the FIRST class's F1
  SELECT 'f_meas', (SELECT f1 FROM f1s ORDER BY cls ASC LIMIT 1)
)
SELECT metric, round(value, 6) AS value FROM vals
"""


def q_ml_auc_midrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney AUC with midranks under HEAVY ties (20 distinct
    prob values over 10k rows — the RF/GBT regime): the bucketed two-level
    ranking in functions.metrics.binary_auc, oracle-checked against
    DuckDB's window-function midrank formula value-for-value."""
    from taxahfe_spark.functions.metrics import binary_auc

    ev = _t(spark, sf_dir, "events")
    # probs derived from an INTEGER column: k/20 is the same IEEE double in
    # every engine (no rounding step to diverge on), with 20-way ties
    pred = ev.select(
        F.when(F.col("event_type") == "click", "pos").otherwise("neg").alias("truth"),
        ((F.col("event_id") % 20).cast("double") / 20).alias("prob"),
    )
    auc = binary_auc(pred, "truth", "prob", "pos")
    return spark.createDataFrame(
        [("roc_auc", round(float(auc), 6))], "metric string, value double"
    )


_ML_AUC_ORACLE = """
WITH pred AS (
  SELECT CASE WHEN event_type = 'click' THEN 'pos' ELSE 'neg' END AS truth,
         CAST(event_id % 20 AS DOUBLE) / 20 AS prob
  FROM events
),
ranked AS (
  SELECT truth, prob, row_number() OVER (ORDER BY prob) AS rn FROM pred
),
mid AS (
  SELECT truth, avg(rn) OVER (PARTITION BY prob) AS mr FROM ranked
),
agg AS (
  SELECT sum(CASE WHEN truth = 'pos' THEN mr END) AS rpos,
         CAST(count(*) FILTER (truth = 'pos') AS DOUBLE) AS npos,
         CAST(count(*) AS DOUBLE) AS n
  FROM mid
)
SELECT 'roc_auc' AS metric,
       round((rpos - npos * (npos + 1) / 2) / (npos * (n - npos)), 6) AS value
FROM agg
"""


def q_ml_linreg_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test regression (dietML M10 metric set): one-
    feature OLS (closed form via regr_slope/intercept) fit on train events,
    scored on test with mae/rmse/rsq/ccc — every formula value-verified."""
    from taxahfe_spark.functions.metrics import regression_metrics
    from taxahfe_spark.operators.windows import ts_seconds

    events = _t(spark, sf_dir, "events")
    ev = events.select(
        "event_id", ts_seconds(events, "ts").alias("x"), F.col("value").alias("y")
    )
    train = ev.filter(F.col("event_id") % 5 != 0)
    test = ev.filter(F.col("event_id") % 5 == 0)
    fit = train.agg(
        F.regr_slope("y", "x").alias("b"), F.regr_intercept("y", "x").alias("a")
    ).first()
    pred = test.select(
        F.col("y").alias("truth"),
        (F.lit(float(fit["a"])) + F.lit(float(fit["b"])) * F.col("x")).alias("estimate"),
    )
    m = regression_metrics(pred)
    rows = [(k, round(float(v), 6)) for k, v in sorted(m.items())]
    return spark.createDataFrame(rows, "metric string, value double")


_ML_LINREG_ORACLE = """
WITH ev AS (
  SELECT event_id, epoch(ts) AS x, value AS y FROM events
),
fit AS (
  SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a
  FROM ev WHERE event_id % 5 <> 0
),
pred AS (
  SELECT y AS truth, (SELECT a FROM fit) + (SELECT b FROM fit) * x AS estimate
  FROM ev WHERE event_id % 5 = 0
),
agg AS (
  SELECT avg(abs(truth - estimate)) AS mae,
         sqrt(avg((truth - estimate) * (truth - estimate))) AS rmse,
         covar_samp(truth, estimate) AS cov,
         var_samp(truth) AS vt, var_samp(estimate) AS ve,
         avg(truth) AS mt, avg(estimate) AS me
  FROM pred
),
vals AS (
  SELECT 'ccc' AS metric,
         2 * cov / (vt + ve + (mt - me) * (mt - me)) AS value FROM agg
  UNION ALL SELECT 'mae', mae FROM agg
  UNION ALL SELECT 'rmse', rmse FROM agg
  UNION ALL SELECT 'rsq', (cov * cov) / (vt * ve) FROM agg
)
SELECT metric, round(value, 6) AS value FROM vals
"""


def q_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard token-budget allocation (LLaMA-recipe shape): temperature
    shares (tau=0.7) of a budget set to 1.5x the corpus mass, so
    upweighted small sources earn full repeat epochs while big sources
    subsample — n_repeats per doc is the plan. n_chars stands in for
    n_tok (any positive weight; the documents table has no token column).
    Oracle replays mass -> tau-shares -> alloc -> floor/remainder -> the
    12-hex-digit md5 threshold cut, bit-for-bit."""
    from taxahfe_spark.tokens import budget_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    out = budget_mix(docs, budget_tokens=1.5 * float(total), tau=0.7,
                     ntok_col="n_chars", seed=42)
    return out.select("doc_id", "source", F.col("n_repeats").cast("long").alias("n_repeats"))


_BUDGET_PLAN_SQL = """
mass AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS m FROM documents GROUP BY 1
),
tot AS (SELECT sum(m) AS t FROM mass),
p AS (SELECT source, m, pow(m / t.t, 0.7) AS q FROM mass CROSS JOIN tot t),
z AS (SELECT sum(q) AS z FROM p),
alloc AS (
  SELECT p.source, p.m, (1.5 * t.t) * p.q / z.z AS a
  FROM p CROSS JOIN z CROSS JOIN tot t
),
plan0 AS (
  SELECT source, m, floor(a / m) AS fe, round((a - floor(a / m) * m) / m, 9) AS rem
  FROM alloc
),
plan AS (
  SELECT source,
         CAST(fe + CASE WHEN rem >= 1.0 THEN 1 ELSE 0 END AS BIGINT) AS fe,
         CASE WHEN rem >= 1.0 THEN 0.0 ELSE rem END AS rem
  FROM plan0
),
mix AS (
  SELECT d.doc_id, d.source,
         pl.fe + CASE
           WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':42'), 1, 12)
                < printf('%012x', CAST(floor(pl.rem * 281474976710656) AS BIGINT))
           THEN 1 ELSE 0 END AS n_repeats
  FROM documents d JOIN plan pl USING (source)
)
"""

_BUDGET_MIX_ORACLE = (
    "WITH " + _BUDGET_PLAN_SQL + "SELECT doc_id, source, n_repeats FROM mix"
)


def q_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """materialize_epochs over the budget_mix plan: one training row per
    (doc, epoch), epoch in [1, n_repeats] — in-task generate, no shuffle.
    Oracle expands via generate_series."""
    from taxahfe_spark.tokens import budget_mix, materialize_epochs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    mixed = budget_mix(docs, budget_tokens=1.5 * float(total), tau=0.7,
                       ntok_col="n_chars", seed=42)
    out = materialize_epochs(mixed)
    return out.select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))


_BUDGET_EPOCHS_ORACLE = (
    "WITH " + _BUDGET_PLAN_SQL
    + """
SELECT m.doc_id, m.source, CAST(e.epoch AS BIGINT) AS epoch
FROM mix m CROSS JOIN unnest(generate_series(1, m.n_repeats)) AS e(epoch)
"""
)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights + Gumbel keys (target = source 'src0',
    raw = whole corpus, 512 hashed unigram+bigram buckets, md5 hash lane).
    The oracle replays feature hashing, both Laplace LMs, the per-doc
    log-ratio sum, and the Gumbel draw bit-for-bit. (Graft operator —
    SURVEY LLM-pipeline family: target-aware data selection.)"""
    from taxahfe_spark.operators.selection import dsir_logweights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    out = dsir_logweights(
        docs, docs.filter("source = 'src0'"), n_buckets=512, seed=11,
        hash_fn="md5",
    )
    return out.select(
        "doc_id", F.round("logw", 6).alias("logw"),
        F.round("gumbel_key", 6).alias("gumbel_key"),
    )


_DSIR_ORACLE = """
WITH dw AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
feats AS (
  SELECT doc_id, source, unnest(words) AS f FROM dw
  UNION ALL
  SELECT doc_id, source, words[i] || ' ' || words[i + 1] AS f
  FROM dw CROSS JOIN unnest(generate_series(1, len(words) - 1)) AS t(i)
),
fb AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % 512 AS b
  FROM feats
),
tc AS (SELECT b, count(*) AS c FROM fb WHERE source = 'src0' GROUP BY 1),
rc AS (SELECT b, count(*) AS c FROM fb GROUP BY 1),
tot AS (
  SELECT (SELECT coalesce(sum(c), 0) FROM tc) + 512.0 AS tt,
         (SELECT coalesce(sum(c), 0) FROM rc) + 512.0 AS rt
),
lam AS (
  SELECT rc.b,
         ln((coalesce(tc.c, 0) + 1) / tot.tt) - ln((rc.c + 1) / tot.rt) AS lam
  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
),
score AS (
  SELECT fb.doc_id, sum(lam.lam) AS logw
  FROM fb JOIN lam USING (b) GROUP BY 1
),
keys AS (
  SELECT d.doc_id, coalesce(s.logw, 0.0) AS logw,
         coalesce(s.logw, 0.0) - ln(-ln(
           ((('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':11'), 1, 12))::BIGINT)
            + 0.5) / 281474976710656.0
         )) AS gumbel_key
  FROM documents d LEFT JOIN score s USING (doc_id)
)
SELECT doc_id, round(logw, 6) AS logw, round(gumbel_key, 6) AS gumbel_key
FROM keys
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-50 DSIR cut — the actual selection step (sampling without
    replacement via Gumbel-max), TakeOrderedAndProject plan."""
    from taxahfe_spark.operators.selection import dsir_logweights, dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = dsir_logweights(
        docs, docs.filter("source = 'src0'"), n_buckets=512, seed=11,
        hash_fn="md5",
    )
    out = dsir_select(scored, k=50)
    return out.select("doc_id", F.round("gumbel_key", 6).alias("gumbel_key"))


_DSIR_SELECT_ORACLE = (
    _DSIR_ORACLE.replace(
        "SELECT doc_id, round(logw, 6) AS logw, round(gumbel_key, 6) AS gumbel_key\nFROM keys",
        "SELECT doc_id, round(gumbel_key, 6) AS gumbel_key FROM keys "
        "ORDER BY gumbel_key DESC, doc_id ASC LIMIT 50",
    )
)


# shared CTE prefix: words + the deterministic lexicographic vocab the
# tokenizer assigns (mirrors _TOKENIZE_ORACLE)
_DW_VOCAB_SQL = """
dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
vocab AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) - 1 AS BIGINT) AS token_id
  FROM (SELECT DISTINCT unnest(words) AS word FROM dw)
),
ex AS (SELECT doc_id, unnest(words) AS word FROM dw)
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score (Jelinek-Mercer lam=0.3, fit on
    the corpus itself) over the tokenized-sequence shape — the rung above
    unigram_logprob on the perplexity-proxy ladder. Oracle replays unigram
    + bigram + left-context counts and the per-position interpolation over
    words (token ids are word-bijective, so counts are identical)."""
    from taxahfe_spark.operators.lm import bigram_logprob
    from taxahfe_spark.tokens import tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = bigram_logprob(seqs, lam=0.3)
    return out.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"), "mean_logp")


_BIGRAM_LOGPROB_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
ne AS (SELECT doc_id, words FROM dw WHERE len(words) > 0),
toks AS (SELECT doc_id, unnest(words) AS w FROM ne),
uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY 1),
tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t FROM uni),
pairs AS (
  SELECT doc_id, words[i] AS a, words[i + 1] AS b
  FROM ne CROSS JOIN unnest(generate_series(1, len(words) - 1)) AS s(i)
),
big AS (SELECT a, b, count(*) AS cb FROM pairs GROUP BY 1, 2),
cleft AS (SELECT a, CAST(sum(cb) AS DOUBLE) AS ca FROM big GROUP BY 1),
terms AS (
  SELECT ne.doc_id, ln(CAST(u.cu AS DOUBLE) / tot.t) AS term
  FROM ne JOIN uni u ON u.w = ne.words[1] CROSS JOIN tot
  UNION ALL
  SELECT p.doc_id,
         ln(0.3 * CAST(u.cu AS DOUBLE) / tot.t
            + 0.7 * (CAST(bg.cb AS DOUBLE) / cl.ca)) AS term
  FROM pairs p
  JOIN uni u ON u.w = p.b
  JOIN big bg ON bg.a = p.a AND bg.b = p.b
  JOIN cleft cl ON cl.a = p.a
  CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, round(avg(term), 6) AS mean_logp
FROM terms GROUP BY 1
"""


def q_remap_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary pruning + dense re-id (min_count=100 -> UNK 0, survivors
    ranked by old id). Arrays projected to (n_tok, tok_sum, tok_first,
    tok_last, n_unk) for the value gate — the per-position remap itself is
    pinned by the first/last probes plus the sum."""
    from taxahfe_spark.tokens import remap_tokens, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = remap_tokens(seqs, min_count=100)
    return out.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, v: a + v).alias("tok_sum"),
        F.col("tokens")[0].cast("long").alias("tok_first"),
        F.element_at("tokens", -1).cast("long").alias("tok_last"),
        F.size(F.filter("tokens", lambda t: t == 0)).cast("long").alias("n_unk"),
    )


_REMAP_ORACLE = (
    "WITH " + _DW_VOCAB_SQL + """,
wcount AS (SELECT word, count(*) AS c FROM ex GROUP BY 1),
kept AS (
  SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS new_id
  FROM wcount WHERE c >= 100
),
map AS (
  SELECT w.word, coalesce(k.new_id, 0) AS new_id
  FROM (SELECT DISTINCT word FROM ex) w LEFT JOIN kept k USING (word)
),
per AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         CAST(sum(m.new_id) AS BIGINT) AS tok_sum,
         CAST(sum(CASE WHEN m.new_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
  FROM ex e JOIN map m USING (word) GROUP BY 1
),
fl AS (
  SELECT dw.doc_id, mf.new_id AS tok_first, ml.new_id AS tok_last
  FROM dw
  JOIN map mf ON mf.word = dw.words[1]
  JOIN map ml ON ml.word = dw.words[-1]
  WHERE len(dw.words) > 0
)
SELECT p.doc_id, p.n_tok, p.tok_sum, f.tok_first, f.tok_last, p.n_unk
FROM per p JOIN fl f USING (doc_id)
"""
)


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies (4 x 256 grid, md5 hash lane).
    CMS is deterministic given its hashes, so the oracle replays every
    lane/bucket cell and the per-token minimum bit-for-bit; the pytest
    side pins the est >= exact guarantee."""
    from taxahfe_spark.tokens import cms_token_counts, tokenize

    docs = _t(spark, sf_dir, "documents")
    seqs = tokenize(docs, "text", "doc_id")
    out = cms_token_counts(seqs, width=256, depth=4, hash_fn="md5")
    return out.select(
        F.col("token_id").cast("long").alias("token_id"),
        F.col("est_count").cast("long").alias("est_count"),
    )


_CMS_ORACLE = (
    "WITH " + _DW_VOCAB_SQL + """,
tid AS (SELECT e.doc_id, v.token_id FROM ex e JOIN vocab v USING (word)),
lanes AS (SELECT unnest([0, 1, 2, 3]) AS lane),
stream AS (
  SELECT l.lane,
         ('0x' || substr(md5(CAST(l.lane AS VARCHAR) || ':'
                             || CAST(t.token_id AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS b
  FROM tid t CROSS JOIN lanes l
),
cells AS (SELECT lane, b, count(*) AS c FROM stream GROUP BY 1, 2),
probes AS (
  SELECT t.token_id, l.lane,
         ('0x' || substr(md5(CAST(l.lane AS VARCHAR) || ':'
                             || CAST(t.token_id AS VARCHAR)), 1, 15))::BIGINT
           % 256 AS b
  FROM (SELECT DISTINCT token_id FROM tid) t CROSS JOIN lanes l
)
SELECT p.token_id, CAST(min(c.c) AS BIGINT) AS est_count
FROM probes p JOIN cells c ON c.lane = p.lane AND c.b = p.b
GROUP BY 1
"""
)


def q_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame window features per user over events —
    the north rule's entity x timestamp rolling feature vector. Value-based
    frames make timestamp ties layout-invariant in both engines."""
    from taxahfe_spark.operators.windows import rolling_stats

    ev = _t(spark, sf_dir, "events")
    out = rolling_stats(ev, "user_id", "ts", "value", window_seconds=3600)
    return out.select(
        "event_id",
        F.col("w_count").cast("long").alias("w_count"),
        F.round("w_sum", 6).alias("w_sum"),
        F.round("w_mean", 6).alias("w_mean"),
        F.round("w_min", 6).alias("w_min"),
        F.round("w_max", 6).alias("w_max"),
    )


_ROLLING_ORACLE = """
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS w_count,
       round(sum(value) OVER w, 6) AS w_sum,
       round(avg(value) OVER w, 6) AS w_mean,
       round(min(value) OVER w, 6) AS w_min,
       round(max(value) OVER w, 6) AS w_max
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts
  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
)
"""


def q_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE: train 25 merges on the corpus word-count table,
    encode every document (Python only over the vocab-sized distinct-word
    frame). The iterative argmax chain is not SQL-expressible, so this
    query records the weaker rows-only driver check; value-level
    correctness is carried by tests/test_bpe.py's independent pure-Python
    dual implementation (train + encode re-derived from scratch)."""
    from taxahfe_spark.operators.bpe import bpe_encode, bpe_train, word_counts

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(word_counts(docs), num_merges=25)
    out = bpe_encode(docs, merges)
    return out.select(
        "doc_id",
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("pieces")[0].alias("piece_first"),
        F.element_at("pieces", -1).alias("piece_last"),
    )


def q_stratified_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample (k=20 per source) — the
    eval-set construction primitive. Oracle replays the md5 rank cut."""
    from taxahfe_spark.tokens import stratified_sample_k

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample_k(docs, k=20, seed=42)


_STRATIFIED_K_ORACLE = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 12),
                    doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source FROM r WHERE rk <= 20
"""


_BM25_QUERY = "spark distributed data processing engine"


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed query over documents (Okapi, k1=1.2 b=0.75,
    non-negative idf). The oracle replays the full chain — tokenize, corpus
    constants, per-term df, per-doc tf, score, (score desc, id) cut — in
    SQL with the same ASCII tokenizer. (Graft operator — the reference R
    engine has no retrieval surface; SURVEY LLM-pipeline family.)"""
    from taxahfe_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, _BM25_QUERY, k=20)
    return out.select("doc_id", F.round("score", 4).alias("score"))


_BM25_ORACLE = """
WITH dw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS words
  FROM documents
),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(words)) AS avgdl FROM dw),
posting AS (
  SELECT doc_id, len(words) AS dl, t.word,
         len(list_filter(words, w -> w = t.word)) AS tf
  FROM dw, UNNEST(['spark','distributed','data','processing','engine']) AS t(word)
  WHERE list_contains(words, t.word)
),
dfreq AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM posting GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         sum(
           ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
           * p.tf * (1.2 + 1.0)
           / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / st.avgdl))
         ) AS score
  FROM posting p JOIN dfreq d USING (word) CROSS JOIN st
  GROUP BY 1
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
"""


def q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF rows (smooth idf, sklearn form) over a doc_id < 100
    slice; df derives from the tf aggregate (one corpus scan), the
    vocab-side join is AQE's broadcast decision. Oracle replays tf/df/idf
    in SQL over the same slice."""
    from taxahfe_spark.operators.retrieval import tfidf_weights

    docs = _t(spark, sf_dir, "documents").filter("doc_id < 100")
    out = tfidf_weights(docs)
    return out.select(
        "doc_id", "word",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("tfidf", 6).alias("tfidf"),
    )


_TFIDF_ORACLE = """
WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM t),
posting AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
  FROM t
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM posting GROUP BY 1, 2),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
       round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0), 6) AS tfidf
FROM tf JOIN dfreq USING (word) CROSS JOIN n
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_customers_window": q_top_customers,
        "hfe_rollup": q_hfe_rollup,
        "hfe_filters": q_hfe_filters,
        "asof_events_orders": q_asof_events_orders,
        "asof_events_orders_salted": q_asof_events_orders_salted,
        "asof_events_orders_broadcast": q_asof_events_orders_broadcast,
        "asof_events_forward": q_asof_events_forward,
        "asof_events_nearest": q_asof_events_nearest,
        "lag_lead_events": q_lag_lead_events,
        "sessionize_events": q_sessionize_events,
        "session_stats_events": q_session_stats_events,
        "locf_events": q_locf_events,
        "slope_per_user": q_slope_per_user,
        "tokenize_docs": q_tokenize_docs,
        "token_rollup_docs": q_token_rollup_docs,
        "pit_token_features": q_pit_token_features,
        "exact_dedup_docs": q_exact_dedup_docs,
        "text_quality_docs": q_text_quality_docs,
        "quality_model_score_docs": q_quality_model_score,
        "language_id_docs": q_language_id_docs,
        "token_counts_docs": q_token_counts_docs,
        "ngram_jaccard_docs": q_ngram_jaccard_docs,
        "contamination_docs": q_contamination_docs,
        "dedup_sequences_docs": q_dedup_sequences,
        "substring_dedup_docs": q_substring_dedup,
        "unigram_logprob_docs": q_unigram_logprob,
        "repetition_docs": q_repetition_docs,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "ivf_topk_embeddings": q_ivf_topk_embeddings,
        "cosine_allpairs_embeddings": q_cosine_allpairs_embeddings,
        "embedding_dedup_vectors": q_embedding_dedup,
        "minhash_dedup_docs": q_minhash_dedup_docs,
        "incremental_minhash_docs": q_incremental_minhash,
        "simhash_docs": q_simhash_docs,
        "hfe_collapse": q_hfe_collapse,
        "hfe_corr_collapse": q_hfe_corr_collapse,
        "ml_split_folds": q_ml_split_folds,
        "ml_null_metrics": q_ml_null_metrics,
        "ml_auc_midrank": q_ml_auc_midrank,
        "ml_linreg_metrics": q_ml_linreg_metrics,
        "sample_by_source": q_sample_by_source,
        "temperature_mix_docs": q_temperature_mix,
        "pack_sequences": q_pack_sequences,
        "chunk_sequences_docs": q_chunk_sequences,
        "pii_scrub_docs": q_pii_scrub,
        "gopher_rules_docs": q_gopher_rules,
        "epoch_shuffle_docs": q_epoch_shuffle,
        "incremental_dedup_docs": q_incremental_dedup,
        "corpus_report_docs": q_corpus_report,
        "holdout_split_docs": q_holdout_split,
        "budget_mix_docs": q_budget_mix,
        "budget_epochs_docs": q_budget_epochs,
        "dsir_weights_docs": q_dsir_weights,
        "dsir_select_docs": q_dsir_select,
        "bm25_topk_docs": q_bm25_topk,
        "tfidf_weights_docs": q_tfidf_weights,
        "bigram_logprob_docs": q_bigram_logprob,
        "remap_tokens_docs": q_remap_tokens,
        "cms_counts_docs": q_cms_counts,
        "rolling_events": q_rolling_events,
        "bpe_pieces_docs": q_bpe_pieces,
        "stratified_k_docs": q_stratified_k,
    }


_HFE_ROLLUP_ORACLE = """
WITH segs AS (SELECT DISTINCT c_mktsegment AS entity_id FROM customer),
leaves AS (
  SELECT r_name || '|' || n_name || '|' || c_name AS path,
         c_mktsegment AS entity_id,
         CAST(sum(c_acctbal) AS DOUBLE) AS value
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
obs2 AS (
  SELECT r_name || '|' || n_name AS path, s.entity_id,
         CAST((n_nationkey + 1) * 100.0 + length(s.entity_id) AS DOUBLE) AS value
  FROM nation JOIN region ON n_regionkey = r_regionkey
  CROSS JOIN segs s
  WHERE n_nationkey % 3 = 0
),
l3 AS (SELECT path, 3 AS level, entity_id, value, TRUE AS observed FROM leaves),
roll2 AS (
  SELECT regexp_replace(path, '\\|[^|]*$', '') AS path, entity_id,
         sum(value) AS value
  FROM l3 GROUP BY 1, 2
),
l2 AS (
  SELECT path, 2 AS level, entity_id, value, TRUE AS observed FROM obs2
  UNION ALL
  SELECT r.path, 2, r.entity_id, r.value, FALSE
  FROM roll2 r WHERE r.path NOT IN (SELECT DISTINCT path FROM obs2)
),
l1 AS (
  SELECT regexp_replace(path, '\\|[^|]*$', '') AS path, 1 AS level, entity_id,
         sum(value) AS value, FALSE AS observed
  FROM l2 GROUP BY 1, 2, 3
)
SELECT path, CAST(level AS BIGINT) AS level, entity_id,
       round(value, 4) AS value, observed
FROM (SELECT * FROM l3 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l1)
"""

_HFE_FILTERS_ORACLE = """
WITH segs AS (SELECT DISTINCT c_mktsegment AS entity_id FROM customer),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_entities FROM segs),
leaves AS (
  SELECT r_name || '|' || n_name || '|' || c_name AS path,
         c_mktsegment AS entity_id,
         CAST(sum(c_acctbal) AS DOUBLE) AS value
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
obs2 AS (
  SELECT r_name || '|' || n_name AS path, s.entity_id,
         CAST((n_nationkey + 1) * 100.0 + length(s.entity_id) AS DOUBLE) AS value
  FROM nation JOIN region ON n_regionkey = r_regionkey
  CROSS JOIN segs s
  WHERE n_nationkey % 3 = 0
),
l3 AS (SELECT path, 3 AS level, entity_id, value FROM leaves),
roll2 AS (
  SELECT regexp_replace(path, '\\|[^|]*$', '') AS path, entity_id, sum(value) AS value
  FROM l3 GROUP BY 1, 2
),
l2 AS (
  SELECT path, 2 AS level, entity_id, value FROM obs2
  UNION ALL
  SELECT r.path, 2, r.entity_id, r.value
  FROM roll2 r WHERE r.path NOT IN (SELECT DISTINCT path FROM obs2)
),
l1 AS (
  SELECT regexp_replace(path, '\\|[^|]*$', '') AS path, 1 AS level, entity_id,
         sum(value) AS value
  FROM l2 GROUP BY 1, 2, 3
),
allv AS (SELECT * FROM l3 UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l1)
SELECT path, CAST(level AS BIGINT) AS level,
       CAST(sum(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS prevalence,
       round(sum(value) / (SELECT n_entities FROM n), 4) AS mean_abundance,
       sum(CASE WHEN value <> 0 THEN 1 ELSE 0 END) > (SELECT n_entities FROM n) * 0.4 AS passed_prevalence,
       sum(value) / (SELECT n_entities FROM n) > 1000.0 AS passed_abundance,
       (sum(CASE WHEN value <> 0 THEN 1 ELSE 0 END) > (SELECT n_entities FROM n) * 0.4)
         AND (sum(value) / (SELECT n_entities FROM n) > 1000.0) AS passed_filters
FROM allv GROUP BY 1, 2
"""


def _hfe_collapse_oracle() -> str:
    """Constant-VALUES oracle for the full RF collapse, built from the
    committed frozen golden (taxahfe_spark/golden/hfe_collapse_sf001.json.gz).

    The collapse's RF decisions are not SQL-expressible, but the engine is
    bit-deterministic at fixed seed across partitionings, layouts, vector
    strategies, and chunk fan-outs (tests/test_competition.py determinism
    suite), so the full decision chain of reference lib/tree.R:457-657 IS
    value-gateable: the golden was produced by the engine at sf0.01 and is
    drift-checked by tests/test_competition.py::test_collapse_matches_frozen
    _golden on every pytest run. Scope: valid at the driver's sf0.01
    correctness scale (the golden is shape-specific by construction).
    """
    import gzip
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "taxahfe_spark", "golden", "hfe_collapse_sf001.json.gz",
    )
    with gzip.open(path, "rt") as f:
        g = json.load(f)

    def lit(v, typ):
        if v is None:
            return "NULL"
        if typ == "string":
            return "'" + str(v).replace("'", "''") + "'"
        return repr(float(v)) if typ == "double" else str(v)

    cols = ", ".join(f'"{c}"' for c in g["columns"])
    rows = ",\n".join(
        "(" + ", ".join(lit(v, t) for v, t in zip(row, g["types"])) + ")"
        for row in g["rows"]
    )
    return f"SELECT * FROM (VALUES\n{rows}\n) AS t({cols})"


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "top_customers_window": """
            SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal, rnk FROM (
              SELECT n_name, c_custkey, c_acctbal,
                     CAST(row_number() OVER (
                       PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC
                     ) AS BIGINT) AS rnk
              FROM customer JOIN nation ON c_nationkey = n_nationkey
            ) WHERE rnk <= 3
        """,
        "hfe_rollup": _HFE_ROLLUP_ORACLE,
        "hfe_filters": _HFE_FILTERS_ORACLE,
        "asof_events_orders": _ASOF_ORACLE,
        "asof_events_orders_salted": _ASOF_ORACLE,
        "asof_events_orders_broadcast": _ASOF_ORACLE,
        "asof_events_forward": _ASOF_FORWARD_ORACLE,
        "asof_events_nearest": _ASOF_NEAREST_ORACLE,
        "lag_lead_events": """
            SELECT event_id, user_id, ts,
                   round(value, 4) AS value,
                   round(lag(value) OVER w, 4) AS value_lag1,
                   round(lead(value) OVER w, 4) AS value_lead1,
                   round(value - lag(value) OVER w, 4) AS value_delta
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "sessionize_events": """
            SELECT event_id, user_id, ts,
                   CAST(sum(is_new) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
            FROM (
              SELECT *, CASE WHEN prev IS NULL OR epoch(ts) - prev > 3600
                             THEN 1 ELSE 0 END AS is_new
              FROM (
                SELECT event_id, user_id, ts,
                       lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events
              )
            )
        """,
        "session_stats_events": """
            WITH s AS (
              SELECT user_id, ts, value,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
              FROM (
                SELECT *, CASE WHEN prev IS NULL OR epoch(ts) - prev > 3600
                               THEN 1 ELSE 0 END AS is_new
                FROM (
                  SELECT event_id, user_id, ts, value,
                         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                  FROM events
                )
              )
            )
            SELECT user_id, session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(max(epoch(ts)) - min(epoch(ts)), 3) AS duration_seconds,
                   round(sum(value), 4) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        "locf_events": """
            SELECT event_id, user_id, ts,
                   round(click_value, 4) AS click_value,
                   round(last_value(click_value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING), 4) AS click_value_locf
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_type = 'click' THEN value END AS click_value
              FROM events
            )
        """,
        "slope_per_user": """
            SELECT user_id,
                   round(coalesce(covar_samp(value, epoch(ts))
                         / nullif(var_samp(epoch(ts)), 0), 0) * 1e6, 6) AS slope_per_mega_sec,
                   round(avg(value), 6) AS mean_value,
                   CAST(count(*) AS BIGINT) AS n_obs
            FROM events GROUP BY 1
        """,
        "tokenize_docs": _TOKENIZE_ORACLE,
        "token_rollup_docs": _TOKEN_ROLLUP_ORACLE,
        "pit_token_features": _PIT_ORACLE,
        "exact_dedup_docs": _EXACT_DEDUP_ORACLE,
        "text_quality_docs": _TEXT_QUALITY_ORACLE,
        "quality_model_score_docs": _QUALITY_MODEL_ORACLE,
        "language_id_docs": _lang_oracle(),
        "token_counts_docs": _TOKEN_COUNTS_ORACLE,
        "ngram_jaccard_docs": _NGRAM_JACCARD_ORACLE,
        "contamination_docs": _CONTAMINATION_ORACLE,
        "dedup_sequences_docs": _DEDUP_SEQ_ORACLE,
        "substring_dedup_docs": _SUBSTRING_DEDUP_ORACLE,
        "unigram_logprob_docs": _UNIGRAM_LOGPROB_ORACLE,
        "repetition_docs": _REPETITION_ORACLE,
        "cosine_topk_embeddings": _COSINE_ORACLE,
        # exhaustive-probe IVF == brute force by construction, same oracle
        "ivf_topk_embeddings": _COSINE_ORACLE,
        "cosine_allpairs_embeddings": _COSINE_ALLPAIRS_ORACLE,
        "embedding_dedup_vectors": _EMBEDDING_DEDUP_ORACLE,
        "simhash_docs": _simhash_oracle(),
        "hfe_corr_collapse": _HFE_CORR_COLLAPSE_ORACLE,
        "ml_split_folds": _ML_SPLIT_ORACLE,
        "ml_null_metrics": _ML_NULL_ORACLE,
        "ml_auc_midrank": _ML_AUC_ORACLE,
        "ml_linreg_metrics": _ML_LINREG_ORACLE,
        "sample_by_source": _SAMPLE_ORACLE,
        "temperature_mix_docs": _TEMPERATURE_MIX_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "chunk_sequences_docs": _CHUNK_SEQ_ORACLE,
        "pii_scrub_docs": _PII_SCRUB_ORACLE,
        "gopher_rules_docs": _GOPHER_ORACLE,
        "epoch_shuffle_docs": _EPOCH_SHUFFLE_ORACLE,
        "incremental_dedup_docs": _INCR_DEDUP_ORACLE,
        "corpus_report_docs": _CORPUS_REPORT_ORACLE,
        "holdout_split_docs": _HOLDOUT_ORACLE,
        "budget_mix_docs": _BUDGET_MIX_ORACLE,
        "budget_epochs_docs": _BUDGET_EPOCHS_ORACLE,
        "dsir_weights_docs": _DSIR_ORACLE,
        "dsir_select_docs": _DSIR_SELECT_ORACLE,
        "bigram_logprob_docs": _BIGRAM_LOGPROB_ORACLE,
        "remap_tokens_docs": _REMAP_ORACLE,
        "cms_counts_docs": _CMS_ORACLE,
        "rolling_events": _ROLLING_ORACLE,
        "stratified_k_docs": _STRATIFIED_K_ORACLE,
        # bpe_pieces_docs: iterative data-dependent argmax chain — not
        # SQL-expressible; rows-only driver check, value correctness via
        # tests/test_bpe.py's independent dual implementation
        "bm25_topk_docs": _BM25_ORACLE,
        "tfidf_weights_docs": _TFIDF_ORACLE,
        "minhash_dedup_docs": _minhash_oracle(),
        "incremental_minhash_docs": _incr_minhash_oracle(),
        # hfe_collapse: the RF decisions are not SQL-expressible, but the
        # engine is bit-deterministic at fixed seed (tested across
        # strategies/layouts/chunkings), so the full decision chain is
        # value-gated against a frozen engine-produced golden rendered as a
        # constant VALUES table (regenerable via tools/regen_golden.py,
        # drift-checked in pytest); hfe_corr_collapse independently oracles
        # the deterministic corr-only prefix with real recomputing SQL
        "hfe_collapse": _hfe_collapse_oracle(),
    }
