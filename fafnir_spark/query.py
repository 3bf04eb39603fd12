"""BM25 query pipeline — direct (index-free) DataFrame path.

This is SURVEY.md §7 M1: the reference's query side is Elasticsearch BM25
top-k with document weight boosts, pinned only by its tests
(/root/reference tests/tests.rs:208-228 — QueryString search, limit 100,
relevance order). Here the same semantics are a declarative DataFrame plan
that Catalyst can optimize end-to-end: tokenize → tf → df/idf → broadcast
query-term join → score → deterministic top-k.

Scoring (Lucene-flavored Okapi BM25, k1=1.2 b=0.75):
    idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score= sum_over_query_terms(idf * tfn) * doc_boost
Doc boost replicates fafnir's weight formula family
(poi_display_weight = 1 - 1/(1+len), /root/reference
tests/openmaptiles2mimir/data/functions.sql:112-126).

Ties break (score desc, doc_id asc) — SURVEY.md §4.3 rank-identity contract.
Every aggregate is aliased so the DuckDB oracle (oracles.py) hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import B, K1
from .tokenizer import tokens_expr

SCORE_DECIMALS = 6


def doc_term_freqs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — one row per distinct term per doc.

    explode + groupBy: Spark's partial (map-side) aggregation pre-combines
    within each scan partition, so the shuffle carries distinct (doc,term)
    pairs, not raw tokens.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term"))
    return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def term_dfs(tf: DataFrame) -> DataFrame:
    """Document frequency per term — THE core index aggregation
    (SURVEY.md §2.4)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))


def _widen_scan(base: DataFrame) -> DataFrame:
    """Input-skew guard (guide-§2.5 "repartition immediately after the
    read"): a corpus packed into far fewer scan partitions than the
    configured shuffle width serializes every tokenize pass behind 1-few
    tasks (a single-row-group parquet file is unsplittable — measured a
    1-task 1.0s stats pass per direct query at sf0.1, worse at larger SFs
    where one file is still one task). Repartition by doc_id ONLY when the
    scan is under-parallel; at production scale the scan already has more
    partitions than this and the guard is a no-op."""
    n = int(base.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    try:
        n_files = len(base.inputFiles())
    except Exception:
        return base
    if n_files * 4 < n:
        return base.repartition(n, "doc_id")
    return base


def _tf_dl_df(base: DataFrame, qterms: list[str], with_cf: bool = False) -> DataFrame:
    """(doc_id, term, tf, dl, df) for the query terms in ONE filtered pass:
    term-isin pushed below the tf groupBy (the shuffle carries only
    query-term tokens), dl carried row-local through the aggregation
    (min of a per-doc constant), df as a <=|qterms|-row groupBy broadcast
    back onto the matches. NOT a count window partitioned by term: a hot
    query term ("the", "def") would funnel its entire match set — up to
    n_docs rows — through ONE reducer. The groupBy form collapses map-side
    (partial agg), and because its shuffle subtree is identical to the tf
    exchange, Spark's ReuseExchange keeps the plan at FileScan==2
    (plan-asserted in test_direct_bm25_two_scans_no_smj)."""
    toks = base.select(
        "doc_id",
        F.size(tokens_expr("__text")).cast("long").alias("__dl"),
        F.explode(tokens_expr("__text")).alias("term"),
    ).filter(F.col("term").isin(qterms))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("__dl").alias("dl")
    )
    # The zero-weighted min(tf)/min(dl) terms are a deliberate plan pin:
    # they force this branch to reference tf AND dl, so column pruning
    # cannot reduce the upstream tf aggregate to a bare distinct — both
    # branches then share a canonically identical Exchange and Spark's
    # exchange/stage reuse executes the corpus scan ONCE (FileScan==2).
    df_expr = (
        F.count(F.lit(1)) + F.min("tf") * F.lit(0) + F.min("dl") * F.lit(0)
    ).alias("df")
    aggs = [df_expr]
    if with_cf:
        aggs.append(F.sum("tf").alias("cf"))
    dfs = tf.groupBy("term").agg(*aggs)
    return tf.join(F.broadcast(dfs), "term")


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    boost: F.Column | None = None,
    k1: float = K1,
    b: float = B,
    eligible: DataFrame | None = None,
    excluded_docs: DataFrame | None = None,
    term_boosts: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term (disjunctive).

    The query-term relation is tiny → broadcast hash join, no shuffle of the
    posting side on the join (fafnir's AdminGeoFinder broadcast analog,
    /root/reference src/mimir.rs:30-38).

    ``eligible`` (doc_id) semi-join restricts WHICH docs get scored (ES
    filter context) and ``excluded_docs`` anti-joins them away — both are
    applied BEFORE the score aggregation so ineligible docs are never
    scored, while df/dl/avgdl/N stay corpus-wide (filter context does not
    change scoring statistics).
    """
    qterms = sorted(set(query_terms))
    spark = docs.sparkSession
    if term_boosts:
        # per-clause boosts (ES query DSL term^boost): a column on the
        # broadcast query relation, multiplied into each term's partial
        q = spark.createDataFrame(
            [(t, float(term_boosts.get(t, 1.0))) for t in qterms],
            "term string, term_boost double",
        )
    else:
        q = spark.createDataFrame([(t,) for t in qterms], "term string")

    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")]
    if boost is not None:
        cols.append(boost.alias("__boost"))  # resolve against the raw input
    base = _widen_scan(docs.select(*cols))
    # ONE filtered pass builds tf + dl + df together:
    #  * the term-isin literal filter runs BELOW the tf groupBy, so the
    #    shuffle carries only query-term tokens (never the whole vocabulary)
    #  * dl rides along row-local (token count of the doc itself) — no dl
    #    relation, no big-big dl join
    #  * df = COUNT() OVER (PARTITION BY term) on the filtered tf — no
    #    second corpus scan for the dfs branch
    # Identical values to the oracle, whose dfs CTE filters WHERE term IN.
    # The only other corpus pass is the 1-row n_docs/avgdl aggregate (a
    # corpus statistic — inherent to index-free BM25). The dl>0 filter
    # keeps n_docs/avgdl identical to the oracle's sum-over-tf form (a
    # zero-token doc has no tf rows there either).
    matched = _tf_dl_df(base, qterms)
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    matched = matched.join(F.broadcast(q), "term").crossJoin(F.broadcast(stats))
    if eligible is not None:
        matched = matched.join(eligible.select("doc_id"), "doc_id", "left_semi")
    if excluded_docs is not None:
        matched = matched.join(excluded_docs.select("doc_id"), "doc_id", "left_anti")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    part = idf * tfn * F.col("term_boost") if term_boosts else idf * tfn
    per_term = matched.withColumn("part_score", part)
    scores = per_term.groupBy("doc_id").agg(F.sum("part_score").alias("raw_score"))
    if boost is not None:
        scores = scores.join(base.select("doc_id", "__boost"), "doc_id").withColumn(
            "raw_score", F.col("raw_score") * F.col("__boost")
        )
    return scores.select("doc_id", F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Deterministic top-k: (rank, doc_id, score).

    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    heaps + a k-row merge, never a single-reducer global sort (the window
    rank runs AFTER the limit, over k rows)."""
    scores = bm25_scores(docs, query_terms, **kwargs)
    top = scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", "score").orderBy("rank")


def bm25_topk_batch(
    docs: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    boost: F.Column | None = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Evaluate a whole query set in ONE corpus pass: tokenize/tf/df once,
    broadcast-join the (qid, term) relation, window per qid.

    The reference's own batching lesson (LazyEs msearch ≤100 queries/req,
    /root/reference src/lazy_es.rs:87-167): never evaluate queries one at a
    time. Returns (qid, rank, doc_id, score).
    """
    spark = docs.sparkSession
    qrows = [(qid, t) for qid, ts in queries.items() for t in sorted(set(ts))]
    q = spark.createDataFrame(qrows, "qid string, term string")

    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")]
    if boost is not None:
        cols.append(boost.alias("__boost"))
    base = _widen_scan(docs.select(*cols))
    # one filtered tf+dl+df pass over the batch's distinct terms, then the
    # broadcast (qid, term) join expands per query — see bm25_scores
    all_terms = sorted({t for ts in queries.values() for t in ts})
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    matched = (
        _tf_dl_df(base, all_terms)
        .join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scores = matched.withColumn("part_score", idf * tfn).groupBy("qid", "doc_id").agg(
        F.sum("part_score").alias("raw_score")
    )
    if boost is not None:
        scores = scores.join(base.select("doc_id", "__boost"), "doc_id").withColumn(
            "raw_score", F.col("raw_score") * F.col("__boost")
        )
    # two-level top-k (topk.topk_per_group): per-partition streaming head-k,
    # then the rank window over ≤ k×n_parts candidates — never the whole
    # matched-docs relation through one reducer per qid
    from .topk import topk_per_group

    return topk_per_group(
        scores.select("qid", "doc_id", F.round("raw_score", SCORE_DECIMALS).alias("score")),
        k,
    )


def conjunctive_match(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc ids containing ALL query terms — posting-list intersection as a
    count-matching group filter (SURVEY.md §2.6)."""
    qterms = sorted(set(query_terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    tf = doc_term_freqs(docs, id_col, text_col)
    hits = tf.join(F.broadcast(q), "term")
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .filter(F.col("n_terms") == len(qterms))
        .select("doc_id")
    )
