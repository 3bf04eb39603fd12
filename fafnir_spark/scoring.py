"""ES function_score / compound-query family — direct (index-free) path.

The reference serves relevance through Elasticsearch (config/fafnir/
default.toml pins the query surface; tests/tests.rs:208-228 pins relevance
order), whose query DSL layers score-shaping combinators over BM25:
function_score decay, dis_max, boosting, random_score. Each is expressed
here as a composition over the shared one-pass BM25 relation
(query.bm25_scores / query._tf_dl_df) — score shaping never adds a corpus
scan, only row-local arithmetic or a bounded regroup of already-matched
docs.

Rank-identity contract: every combinator multiplies/merges ROUNDED
(6-decimal) BM25 scores and re-rounds, in the exact operand order the
DuckDB oracle uses (oracles.function_score_* builders), so value hashes
match bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import B, K1
from .portable import hash60, lit_doubles
from .query import SCORE_DECIMALS, _tf_dl_df, _widen_scan, bm25_scores, tokens_expr


def _topk_ranked(scores: DataFrame, k: int) -> DataFrame:
    """Shared deterministic top-k finish: orderBy().limit(k) compiles to
    TakeOrderedAndProject (per-partition heaps, k-row merge); the rank
    window runs AFTER the limit, over k rows."""
    top = scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", "score").orderBy("rank")


def function_score_gauss(
    docs: DataFrame,
    terms: list[str],
    origin: float,
    scale: float,
    decay: float = 0.5,
    k: int = 10,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES function_score with a gauss decay on a numeric doc field:

        score = bm25 * exp(lambda * d * d),  lambda = ln(decay)/scale^2,
        d = |field - origin|

    (the distance-from-origin relevance shaping ES documents for
    function_score; at distance == scale the multiplier equals ``decay``).
    lambda is computed driver-side and enters BOTH engines as a literal.
    The decay factor is row-local — no pass beyond bm25's own."""
    lam = math.log(decay) / (scale * scale)
    scores = bm25_scores(docs, terms, text_col=text_col)
    vals = docs.select("doc_id", F.col(field).cast("double").alias("__v"))
    d = F.abs(F.col("__v") - F.lit(float(origin)))
    out = (
        scores.join(vals, "doc_id")
        .select(
            "doc_id",
            F.round(F.col("score") * F.exp(F.lit(lam) * d * d), SCORE_DECIMALS).alias("score"),
        )
    )
    return _topk_ranked(out, k)


def dis_max(
    docs: DataFrame,
    subqueries: list[list[str]],
    tie_breaker: float = 0.3,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES dis_max compound query: each subquery is a BM25 disjunction; a
    doc's score is its best subquery score plus tie_breaker times the rest:

        score = best + tie_breaker * (total - best)

    ONE corpus pass for ALL subqueries: per-term BM25 partials from the
    shared filtered tf+dl+df relation, routed to their subquery via a
    broadcast (term, sub) relation, regrouped per (doc, sub) then per doc
    — never a pass per subquery."""
    spark = docs.sparkSession
    all_terms = sorted({t for sq in subqueries for t in sq})
    q = spark.createDataFrame(
        [(t, i) for i, sq in enumerate(subqueries) for t in sorted(set(sq))],
        "term string, sub int",
    )
    base = _widen_scan(docs.select("doc_id", F.col(text_col).alias("__text")))
    matched = _tf_dl_df(base, all_terms)
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(K1 + 1.0)) / (
        F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    per_sub = (
        matched.join(F.broadcast(q), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("part_score", idf * tfn)
        .groupBy("doc_id", "sub")
        .agg(F.round(F.sum("part_score"), SCORE_DECIMALS).alias("sub_score"))
    )
    out = (
        per_sub.groupBy("doc_id")
        .agg(F.max("sub_score").alias("best"), F.sum("sub_score").alias("total"))
        .select(
            "doc_id",
            F.round(
                F.col("best") + F.lit(tie_breaker) * (F.col("total") - F.col("best")),
                SCORE_DECIMALS,
            ).alias("score"),
        )
    )
    return _topk_ranked(out, k)


def boosting_query(
    docs: DataFrame,
    positive: list[str],
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES boosting query: docs matching the positive terms keep their BM25
    score; docs ALSO containing the negative term are demoted (not
    excluded) by ``negative_boost``. The negative flag is row-local over
    the doc text (array_contains on the token split) — no extra tf pass."""
    scores = bm25_scores(docs, positive, text_col=text_col)
    flags = docs.select(
        "doc_id", F.array_contains(tokens_expr(text_col), negative).alias("__neg")
    )
    out = scores.join(flags, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            * F.when(F.col("__neg"), F.lit(float(negative_boost))).otherwise(F.lit(1.0)),
            SCORE_DECIMALS,
        ).alias("score"),
    )
    return _topk_ranked(out, k)


def constant_score_bool(
    docs: DataFrame,
    terms: list[str],
    flt: F.Column,
    boost: float = 1.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES bool query whose should-clauses are a match (BM25) and a
    constant_score-wrapped filter: a doc matches if EITHER clause does,
    and its score is bm25 + boost·[filter matches] — the standard "boost
    this category/recency bucket by a fixed amount" ES pattern
    (constant_score ignores tf/idf entirely; the wrapped filter is
    cacheable in ES for the same reason it is a cheap predicate here).

    Scale shape: the BM25 arm is the shared one-pass query.bm25_scores
    plan; the constant arm is a predicate-pushed scan projecting
    (doc_id, boost); the union groups on doc_id with at most 2 rows per
    doc (2-double sums are order-independent, so cross-engine exact), and
    the finish is the TakeOrderedAndProject top-k. (rank, doc_id, score)."""
    bm = bm25_scores(docs, terms, id_col=id_col, text_col=text_col)
    const = (
        docs.filter(flt)
        .select(F.col(id_col).alias("doc_id"), F.lit(float(boost)).alias("score"))
    )
    total = (
        bm.unionByName(const)
        .groupBy("doc_id")
        .agg(F.round(F.sum("score"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(total, k)


def random_score_topk(docs: DataFrame, seed: str, k: int = 10) -> DataFrame:
    """ES function_score random_score with a seed: deterministic
    pseudo-random score in [0, 1) from the portable 60-bit hash of
    "doc_id:seed" — identical in both engines, so reproducible sampling
    (the ES use case) is oracle-checkable. Pure projection + top-k; zero
    shuffles before the k-row merge."""
    r = (
        F.pmod(
            hash60(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))),
            F.lit(1000000),
        ).cast("double")
        / F.lit(1000000.0)
    )
    out = docs.select("doc_id", F.round(r, SCORE_DECIMALS).alias("score"))
    return _topk_ranked(out, k)


def rank_feature_bm25(
    docs: DataFrame,
    terms: list[str],
    pivot: float = 200.0,
    boost: float = 2.0,
    k: int = 10,
    field: str = "n_chars",
    text_col: str = "text",
    function: str = "saturation",
) -> DataFrame:
    """ES rank_feature query (saturation function, the default):

        score = bm25 + boost * v / (v + pivot)

    — an ADDITIVE static-signal contribution (pagerank/url-length style
    ranking features; at v == pivot the contribution is boost/2). The
    feature read is row-local on the already-matched docs; no pass beyond
    bm25's own. Chains from the ROUNDED bm25 score (house contract).

    ``function`` selects the ES rank_feature flavor:
      saturation (default)  boost · v/(v + pivot)
      log                   boost · ln(1 + v/pivot)   (pivot = scaling_factor)
      sigmoid               boost · v²/(v² + pivot²)  (exponent FIXED at 2 —
                            integer powers stay exact cross-engine; ES's
                            fractional default 0.6 is a libm pow, which
                            drifts between engines and is refused)"""
    scores = bm25_scores(docs, terms, text_col=text_col)
    vals = docs.select("doc_id", F.col(field).cast("double").alias("__v"))
    v, pv = F.col("__v"), F.lit(float(pivot))
    if function == "saturation":
        contrib = F.lit(float(boost)) * v / (v + pv)
    elif function == "log":
        contrib = F.lit(float(boost)) * F.log(F.lit(1.0) + v / pv)
    elif function == "sigmoid":
        contrib = F.lit(float(boost)) * (v * v) / (v * v + pv * pv)
    else:
        raise ValueError(f"unknown rank_feature function {function!r}")
    out = scores.join(vals, "doc_id").select(
        "doc_id",
        F.round(F.col("score") + contrib, SCORE_DECIMALS).alias("score"),
    )
    return _topk_ranked(out, k)


def field_value_factor(
    docs: DataFrame,
    terms: list[str],
    factor: float = 0.1,
    k: int = 10,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES function_score field_value_factor with the log1p modifier:

        score = bm25 * ln(1 + factor * v)

    — multiplicative popularity boosting (the ES docs' canonical
    field_value_factor example). Row-local feature read, chains from the
    ROUNDED bm25 score, identical operand order in the oracle."""
    scores = bm25_scores(docs, terms, text_col=text_col)
    vals = docs.select("doc_id", F.col(field).cast("double").alias("__v"))
    mult = F.log(F.lit(1.0) + F.lit(float(factor)) * F.col("__v"))
    out = scores.join(vals, "doc_id").select(
        "doc_id",
        F.round(F.col("score") * mult, SCORE_DECIMALS).alias("score"),
    )
    return _topk_ranked(out, k)


def sparse_vector_topk(
    docs: DataFrame,
    query_weights: dict[str, float],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES sparse_vector query (the ELSER learned-sparse retrieval shape):
    the query is a (term -> weight) map, each document's sparse
    representation is its term-frequency vector, and

        score(d) = Σ_t  w(t) · tf(t, d)

    over the query's terms only. ONE corpus pass — the explode is filtered
    to the query terms BEFORE the tf groupBy (the _tf_dl_df discipline:
    never aggregate the full corpus vocabulary to serve a bounded query),
    the weight lookup is a row-local CASE over literals (no join), and the
    finish is the shared TakeOrderedAndProject top-k. Weights should be
    dyadic so w·tf sums stay exact across engines (the multi_match
    cross_fields convention). (rank, doc_id, score)."""
    terms = sorted(query_weights)
    toks = tokens_expr(text_col)
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    w = F.lit(float(query_weights[terms[0]]))
    expr = F.when(F.col("term") == terms[0], w)
    for t in terms[1:]:
        expr = expr.when(F.col("term") == t, F.lit(float(query_weights[t])))
    scored = (
        tf.select("doc_id", (expr * F.col("tf")).alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scored, k)


def sparse_vector_pruned(
    docs: DataFrame,
    query_weights: dict[str, float],
    freq_ratio_threshold: float = 1.0,
    weight_threshold: float = 0.5,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES sparse_vector with prune=true (the 8.15 token-pruning config for
    ELSER-style queries): a query token is PRUNED iff it is both frequent
    and unimportant —

        cf(t) / avg_cf  >  freq_ratio_threshold   (frequency outlier)
        AND  w(t)  <  weight_threshold · max_w    (low weight)

    where avg_cf = total_tokens / |vocab| is the field's average token
    frequency; surviving tokens score Σ w·tf as in sparse_vector_topk.
    Pruning high-frequency low-weight tokens is what makes learned-sparse
    retrieval serveable — those tokens touch most of the corpus and
    contribute least.

    Scale shape: two corpus passes — the query-term-filtered tf pass (the
    _tf_dl_df discipline) and a 1-row vocabulary statistic
    (countDistinct(term), count(*)); the prune decision runs on the
    ≤|qterms|-row cf relation against that broadcast 1-row stat, with the
    ratio compare kept in EXACT integer space (cf·|vocab| > thr·total,
    thresholds dyadic) so both engines prune identically; the kept set
    broadcast-joins back onto tf. (rank, doc_id, score)."""
    terms = sorted(query_weights)
    max_w = max(float(w) for w in query_weights.values())
    toks = tokens_expr(text_col)
    exploded = docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
    vocab = exploded.agg(
        F.countDistinct("term").alias("n_vocab"),
        F.count(F.lit(1)).alias("total_tokens"),
    )
    tf = (
        exploded.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    cfs = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    w = F.lit(float(query_weights[terms[0]]))
    w_expr = F.when(F.col("term") == terms[0], w)
    for t in terms[1:]:
        w_expr = w_expr.when(F.col("term") == t, F.lit(float(query_weights[t])))
    pruned = (
        (F.col("cf") * F.col("n_vocab")
         > F.lit(float(freq_ratio_threshold)) * F.col("total_tokens"))
        & (F.col("w") < F.lit(weight_threshold * max_w))
    )
    kept = (
        cfs.crossJoin(F.broadcast(vocab))
        .withColumn("w", w_expr)
        .filter(~pruned)
        .select("term", "w")
    )
    scored = (
        tf.join(F.broadcast(kept), "term")
        .select("doc_id", (F.col("w") * F.col("tf")).alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scored, k)


def lm_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    smoothing: str = "dirichlet",
    mu: float = 2000.0,
    lam: float = 0.1,
    text_col: str = "text",
) -> DataFrame:
    """Language-model similarity modules (the ES `similarity` setting's
    LMDirichlet / LMJelinekMercer alternatives to BM25; Zhai & Lafferty,
    "A Study of Smoothing Methods for Language Models Applied to Ad Hoc
    Information Retrieval", SIGIR 2001 — the public Lucene
    LMDirichletSimilarity / LMJelinekMercerSimilarity formulas):

        p(t|C)    = cf / C              (collection language model)
        dirichlet : max(0, ln(1 + tf / (mu * p)) + ln(mu / (dl + mu)))
        jm        : ln(1 + ((1-lam) * tf / dl) / (lam * p))

    summed over matched query terms (Lucene clamps each Dirichlet term at
    0 so scores stay non-negative). Same ONE-pass shape as BM25: the
    shared filtered tf+dl+df relation (query._tf_dl_df), cf folded into
    the same <=|qterms|-row per-term groupBy broadcast as df, and C
    (= total corpus tokens) rides the 1-row stats aggregate. Operand
    order is pinned by the oracle template (oracles.lm_topk_sql)."""
    qterms = sorted(set(terms))
    base = _widen_scan(docs.select("doc_id", F.col(text_col).alias("__text")))
    # cf via the same <=|qterms|-row groupBy broadcast as df (inside
    # _tf_dl_df) — never a per-term SUM window, which funnels a hot
    # term's whole match set through one reducer.
    matched = _tf_dl_df(base, qterms, with_cf=True)
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.sum("dl").cast("double").alias("total_c"))
    )
    m = matched.crossJoin(F.broadcast(stats))
    p = F.col("cf") / F.col("total_c")
    if smoothing == "dirichlet":
        part = F.greatest(
            F.log(F.lit(1.0) + F.col("tf") / (F.lit(float(mu)) * p))
            + F.log(F.lit(float(mu)) / (F.col("dl") + F.lit(float(mu)))),
            F.lit(0.0),
        )
    elif smoothing == "jm":
        one_minus = 1.0 - float(lam)
        part = F.log(
            F.lit(1.0)
            + ((F.lit(one_minus) * F.col("tf")) / F.col("dl")) / (F.lit(float(lam)) * p)
        )
    else:
        raise ValueError(f"unknown smoothing {smoothing!r}")
    scores = (
        m.select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scores, k)


def distance_feature_topk(
    docs: DataFrame,
    terms: list[str],
    origin: float,
    pivot: float = 50.0,
    boost: float = 2.0,
    k: int = 10,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES distance_feature query (numeric-origin form): an ADDITIVE
    closeness-to-origin contribution on top of the relevance score —

        score = bm25 + boost * pivot / (pivot + |v - origin|)

    (the ES semantics: at distance == pivot the contribution is boost/2;
    date/geo origins are this same formula over a different distance).
    Row-local feature read on already-matched docs, chained from the
    ROUNDED bm25 score (house contract) — no pass beyond bm25's own."""
    scores = bm25_scores(docs, terms, text_col=text_col)
    vals = docs.select("doc_id", F.col(field).cast("double").alias("__v"))
    contrib = (
        F.lit(float(boost))
        * F.lit(float(pivot))
        / (F.lit(float(pivot)) + F.abs(F.col("__v") - F.lit(float(origin))))
    )
    out = scores.join(vals, "doc_id").select(
        "doc_id",
        F.round(F.col("score") + contrib, SCORE_DECIMALS).alias("score"),
    )
    return _topk_ranked(out, k)


# pinned docs get score PIN_BASE - position so they outrank any organic
# BM25 score while preserving the caller's promotion order (the ES pinned
# query serves promoted results the same way: a huge descending constant
# per pinned id above the organic query's scores).
PIN_BASE = 1000000.0


def pinned_topk(
    docs: DataFrame,
    terms: list[str],
    pinned_ids: list[int],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES pinned query: the given ids rank first IN THE GIVEN ORDER, then
    the organic BM25 results (pinned docs excluded from the organic side
    so they never appear twice). Pinned ids that don't exist in the corpus
    are dropped (ES behavior). The pinned relation is a broadcast literal;
    the organic side is the standard one-pass BM25 with an anti-join on
    that same tiny relation — plan cost is bm25's own."""
    spark = docs.sparkSession
    pins = spark.createDataFrame(
        [(int(d), PIN_BASE - i) for i, d in enumerate(pinned_ids)],
        "doc_id long, pin_score double",
    )
    present = docs.select("doc_id").join(F.broadcast(pins), "doc_id").select(
        "doc_id", F.round("pin_score", SCORE_DECIMALS).alias("score")
    )
    organic = bm25_scores(docs, terms, text_col=text_col).join(
        F.broadcast(pins.select("doc_id")), "doc_id", "left_anti"
    )
    return _topk_ranked(present.unionByName(organic), k)


def match_bool_prefix(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES match_bool_prefix query: every term but the last is a regular
    bool-should BM25 term; the LAST term matches as a PREFIX with constant
    score 1.0 (ES rewrites multi-term prefix expansion to constant_score
    by default). A doc matching only the prefix still matches (should
    semantics). The prefix test is a row-local EXISTS over the token
    array — no prefix-expanded term explosion, no extra tf pass; the two
    score sources merge with a union + per-doc sum."""
    full, prefix = terms[:-1], terms[-1]

    def _is_pref(t):
        return t.startswith(prefix)

    pref_docs = (
        docs.select("doc_id", tokens_expr(text_col).alias("__tk"))
        .filter(F.exists(F.col("__tk"), _is_pref))
        .select("doc_id", F.lit(1.0).alias("part"))
    )
    full_scores = bm25_scores(docs, full, text_col=text_col).select(
        "doc_id", F.col("score").alias("part")
    )
    out = (
        full_scores.unionByName(pref_docs)
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(out, k)


def search_as_you_type(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES search_as_you_type field queried with multi_match
    type=bool_prefix over [field, field._2gram]: the canonical
    type-ahead ranking. Three score sources per doc, summed
    (most_fields semantics):

      * the complete terms (all but the trailing partial) scored BM25 on
        the base field,
      * the trailing partial term as a constant-score 1.0 prefix match
        (the bool_prefix rewrite, exactly match_bool_prefix's last arm),
      * the complete terms' adjacent 2-gram shingles scored BM25 on the
        shingle subfield with the SUBFIELD's own statistics (shingle
        df/dl/avgdl) — this is what makes in-order "group merge" beat a
        doc containing the words scattered.

    Scale shape: ALL THREE arms ride ONE corpus pass (the cross_fields
    tagged-token trick generalized): base tokens, prefix hits, and the
    row-local 2-gram shingles explode as ('b'|'p'|'g', term) rows with
    both field lengths carried row-local; the arm-specific term filters
    run BELOW the single tf groupBy; per-(arm, term) df is a bounded
    groupBy broadcast back (zero-weight-pinned so the exchange is reused,
    the query._tf_dl_df shape); per-field corpus statistics are ONE 1-row
    conditional aggregate. The per-doc finish is ONE groupBy with
    conditional per-arm sums — no fusion joins at all. The branch sum is
    coalesce(base,0)+coalesce(prefix,0)+coalesce(gram,0) in that literal
    order — three rounded doubles, fixed association, so the DuckDB
    mirror (three independent branch CTEs) is bit-identical.
    (rank, doc_id, score)."""
    from . import B, K1

    full, prefix = terms[:-1], terms[-1]
    if not full:
        raise ValueError("search_as_you_type needs >=1 complete term")
    fullset = sorted(set(full))
    grams = sorted({"_".join(p) for p in zip(full, full[1:])})
    toks = tokens_expr(text_col)

    def _tag(fld: str):
        def tag(t):
            return F.struct(F.lit(fld).alias("fld"), t.alias("term"))
        return tag

    def _is_pref(t):
        return t.startswith(prefix)

    def _pair(a: F.Column, b: F.Column) -> F.Column:
        return F.concat(a, F.lit("_"), b)

    n = F.size(toks)
    gram_arr = F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1), _pair)
    tagged = F.concat(
        F.transform(toks, _tag("b")),
        F.transform(F.filter(toks, _is_pref), _tag("p")),
        F.transform(gram_arr, _tag("g")),
    )
    base = _widen_scan(docs.select("doc_id", text_col)).select(
        "doc_id",
        F.size(toks).cast("long").alias("__dlb"),
        F.size(gram_arr).cast("long").alias("__dlg"),
        tagged.alias("__tg"),
    )
    keep = (
        ((F.col("fld") == "b") & F.col("term").isin(fullset))
        | (F.col("fld") == "p")
    )
    if grams:
        keep = keep | ((F.col("fld") == "g") & F.col("term").isin(grams))
    ex = (
        base.select("doc_id", "__dlb", "__dlg", F.explode("__tg").alias("t"))
        .select("doc_id", "__dlb", "__dlg",
                F.col("t.fld").alias("fld"), F.col("t.term").alias("term"))
        .filter(keep)
    )
    tf = ex.groupBy("doc_id", "fld", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.min("__dlb").alias("dlb"),
        F.min("__dlg").alias("dlg"),
    )
    # zero-weight pins (the query._tf_dl_df convention) so this branch's
    # exchange subtree stays identical to tf's and is executed once
    dfs = tf.groupBy("fld", "term").agg(
        (F.count(F.lit(1)) + F.min("tf") * F.lit(0)
         + F.min("dlb") * F.lit(0) + F.min("dlg") * F.lit(0)).alias("df")
    )
    stats = base.agg(
        F.count(F.when(F.col("__dlb") > 0, F.lit(1))).alias("nb"),
        F.avg(F.when(F.col("__dlb") > 0, F.col("__dlb"))).alias("avgb"),
        F.count(F.when(F.col("__dlg") > 0, F.lit(1))).alias("ng"),
        F.avg(F.when(F.col("__dlg") > 0, F.col("__dlg"))).alias("avgg"),
    )
    m = tf.join(F.broadcast(dfs), ["fld", "term"]).crossJoin(F.broadcast(stats))

    def _part(nd, dl, avg):
        idf = F.log(
            F.lit(1.0) + (F.col(nd) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        tfn = (F.col("tf") * F.lit(K1 + 1.0)) / (
            F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col(dl) / F.col(avg))
        )
        return idf * tfn

    part_b = F.when(F.col("fld") == "b", _part("nb", "dlb", "avgb"))
    part_g = F.when(F.col("fld") == "g", _part("ng", "dlg", "avgg"))
    out = (
        m.groupBy("doc_id")
        .agg(
            F.round(F.sum(part_b), SCORE_DECIMALS).alias("s_base"),
            F.max(F.when(F.col("fld") == "p", F.lit(1.0))).alias("s_pref"),
            F.round(F.sum(part_g), SCORE_DECIMALS).alias("s_gram"),
        )
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("s_base"), F.lit(0.0))
                + F.coalesce(F.col("s_pref"), F.lit(0.0))
                + F.coalesce(F.col("s_gram"), F.lit(0.0)),
                SCORE_DECIMALS,
            ).alias("score"),
        )
    )
    return _topk_ranked(out, k)


def tfidf_classic_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Lucene Classic (pre-BM25) TF-IDF similarity — the ES
    `similarity: classic` module (public Lucene ClassicSimilarity /
    Salton-Buckley SMART lnc.ltc family):

        idf   = 1 + ln(n_docs / (df + 1))
        part  = sqrt(tf) * idf² / sqrt(dl)        (norm(d) = 1/sqrt(dl))
        score = coord * Σ parts,  coord = matched_terms / |q|

    (queryNorm is omitted — it is rank-neutral per query, which Lucene
    itself dropped in 7.0). Same one-pass _tf_dl_df shape as BM25/LM:
    filtered tf with row-local dl, df as the posting-bounded count
    window, 1-row n_docs aggregate."""
    qterms = sorted(set(terms))
    nq = float(len(qterms))
    base = _widen_scan(docs.select("doc_id", F.col(text_col).alias("__text")))
    matched = _tf_dl_df(base, qterms)
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    m = matched.crossJoin(F.broadcast(stats))
    idf = F.lit(1.0) + F.log(F.col("n_docs") / (F.col("df") + F.lit(1.0)))
    part = F.sqrt(F.col("tf")) * idf * idf / F.sqrt(F.col("dl"))
    scores = (
        m.select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.count(F.lit(1)) / F.lit(nq)) * F.sum("part"), SCORE_DECIMALS
            ).alias("score")
        )
    )
    return _topk_ranked(scores, k)


def script_score_cosine(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ES script_score with the docs' canonical dense-vector script —

        score = bm25 · (cosineSimilarity(query_vec, 'embedding') + 1.0)

    — the semantic-rerank pattern: lexical retrieval supplies the candidate
    set and corpus statistics, a row-local vector function reshapes the
    score. Unlike hybrid_rrf/hybrid_linear there is NO second retrieval
    branch: the embedding read is a join on the already-matched docs only,
    so plan cost is bm25's own plus one broadcast-sized probe. Chains from
    the ROUNDED bm25 score and ROUNDED cosine in the oracle's operand
    order. Docs without a vector drop out (ES errors on missing vector
    fields — the join is the filter). (rank, doc_id, score)."""
    from .dedup import cosine_expr

    scores = bm25_scores(docs, terms, id_col=id_col, text_col=text_col)
    q = lit_doubles(query_vec)
    vecs = emb.select(F.col(vec_id_col).alias("doc_id"), F.col(vec_col).alias("__e"))
    out = scores.join(vecs, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score") * (F.round(cosine_expr(F.col("__e"), q), 6) + F.lit(1.0)),
            SCORE_DECIMALS,
        ).alias("score"),
    )
    return _topk_ranked(out, k)


def ltr_rescore(
    docs: DataFrame,
    terms: list[str],
    weights: tuple[float, float, float, float] = (1.0, 0.25, 2.0, 0.125),
    k: int = 10,
    window: int = 50,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES learning-to-rank rescorer (8.12 `rescore.learning_to_rank`):
    the first-pass query retrieves the top-``window`` docs by BM25, then a
    model scores them from query+doc feature extractors and the window is
    re-ranked to the final k. The deterministic core here is a LINEAR
    model over the canonical LTR feature set:

        f_bm25  = first-pass score        (rounded — the rank-identity value)
        f_dl    = ln(1 + token count)     (doc length)
        f_cov   = |matched query terms| / |terms|   (coverage)
        f_field = ln(1 + <numeric doc column>)      (static quality prior)

        score = round(w0·f_bm25 + w1·f_dl + w2·f_cov + w3·f_field, 6)

    ``weights`` should be dyadic floats so the weighted sum is exact
    cross-engine (the multi_match convention). Feature extraction is
    row-local projection + one join against the ≤window-row initial
    relation (AQE broadcasts it) — the expensive model never sees more
    than ``window`` docs, the ES rescorer contract. (rank, doc_id, score)."""
    from .query import bm25_topk

    initial = bm25_topk(docs, terms, k=window, text_col=text_col)
    return ltr_model_rerank(
        initial.select("doc_id", "score"),
        ltr_features(docs, terms, field=field, text_col=text_col), weights, k)


def ltr_features(docs: DataFrame, terms: list[str], field: str = "n_chars",
                 text_col: str = "text") -> DataFrame:
    """The LTR feature projection (doc side): row-local, one pass —
    shared by the direct and indexed rescorers so rank identity holds.
    (doc_id, __f_dl, __f_cov, __f_field)."""
    qset = sorted(set(terms))
    toks = tokens_expr(text_col)
    term_arr = F.array(*[F.lit(t) for t in qset])
    return docs.select(
        "doc_id",
        F.log(F.lit(1.0) + F.size(toks)).alias("__f_dl"),
        (F.size(F.array_intersect(F.array_distinct(toks), term_arr))
         / F.lit(float(len(qset)))).alias("__f_cov"),
        F.log(F.lit(1.0) + F.col(field)).alias("__f_field"),
    )


def ltr_model_rerank(initial: DataFrame, feats: DataFrame,
                     weights: tuple[float, float, float, float],
                     k: int) -> DataFrame:
    """Apply the linear LTR model to a (doc_id, score) first-pass window
    and finish with the deterministic top-k. Exact operand order — the
    oracle's formula."""
    w_bm, w_dl, w_cov, w_f = (float(w) for w in weights)
    rescored = initial.join(feats, "doc_id").select(
        "doc_id",
        F.round(
            F.lit(w_bm) * F.col("score") + F.lit(w_dl) * F.col("__f_dl")
            + F.lit(w_cov) * F.col("__f_cov") + F.lit(w_f) * F.col("__f_field"),
            SCORE_DECIMALS,
        ).alias("score"),
    )
    return _topk_ranked(rescored, k)


def rescore_chain(
    docs: DataFrame,
    terms: list[str],
    weights: tuple[float, float, float, float] = (1.0, 0.25, 2.0, 0.125),
    k: int = 10,
    w1: int = 50,
    w2: int = 20,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES rescore ARRAY semantics: rescorers apply IN SEQUENCE, each over
    the previous stage's top window (windows shrink monotonically —
    w1 ≥ w2 ≥ k). Stage 1: BM25 top-``w1`` re-ranked by the proximity
    bonus, keep ``w2``; stage 2: the linear LTR model over those ``w2``;
    final top-k. Each stage's expensive work is bounded by its window —
    the chain costs no more than its widest rescorer.
    (rank, doc_id, score)."""
    from .query_ext import proximity_rescore

    stage1 = proximity_rescore(docs, terms, k=w2, rescore_n=w1,
                               text_col=text_col)
    return ltr_model_rerank(
        stage1.select("doc_id", "score"),
        ltr_features(docs, terms, field=field, text_col=text_col), weights, k)


# ---------------------------------------------------------------------------
# ES scripted similarity (index setting `similarity: {type: scripted}`):
# a user-supplied per-term scoring script over the standard Lucene
# statistics. The Painless script is replaced by a CLOSED recursive-descent
# arithmetic grammar — numbers, the five statistic variables, + - * /,
# parens, ln()/sqrt() — and ONE parse renders BOTH the Spark Column and
# the DuckDB SQL mirror (the kql.py single-AST rule), so a custom
# similarity can never diverge across engines. Anything outside the
# grammar raises (never silently approximated).
# ---------------------------------------------------------------------------

SIM_VARS = ("tf", "df", "dl", "avgdl", "n_docs")


class SimilarityScriptError(ValueError):
    pass


def _sim_tokens(s: str) -> list[str]:
    import re

    toks = re.findall(r"\d+\.\d+|\d+|[a-z_]+|[-+*/()]", s)
    if "".join(toks).replace(" ", "") != s.replace(" ", ""):
        raise SimilarityScriptError(f"unparseable similarity script {s!r}")
    return toks


def parse_similarity_script(script: str, sql_names: dict | None = None):
    """(column_thunk, sql_expr). Precedence: * / over + -, left-assoc;
    functions ln(x), sqrt(x). The thunk defers Column creation so oracle
    SQL renders with no SparkContext."""
    names = sql_names or {v: v for v in SIM_VARS}
    toks = _sim_tokens(script)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def eat():
        t = peek()
        pos[0] += 1
        return t

    def factor():
        t = eat()
        if t is None:
            raise SimilarityScriptError("unexpected end of script")
        if t == "(":
            inner = expr()
            if eat() != ")":
                raise SimilarityScriptError("missing )")
            ithunk, isql = inner
            return ithunk, f"({isql})"
        if t in ("ln", "sqrt"):
            if eat() != "(":
                raise SimilarityScriptError(f"{t} needs (")
            inner = expr()
            if eat() != ")":
                raise SimilarityScriptError("missing )")
            ithunk, isql = inner
            fn = F.log if t == "ln" else F.sqrt

            def thunk(fn=fn, ithunk=ithunk):
                return fn(ithunk())

            return thunk, f"{t}({isql})"
        if t in SIM_VARS:
            return (lambda t=t: F.col(t)), names[t]
        try:
            v = float(t) if "." in t else int(t)
        except ValueError:
            raise SimilarityScriptError(f"unknown token {t!r}")
        return (lambda v=v: F.lit(v)), repr(v)

    _OPS = {
        "+": lambda a, b: a + b, "-": lambda a, b: a - b,
        "*": lambda a, b: a * b, "/": lambda a, b: a / b,
    }

    def binop(sub, ops):
        left = sub()
        while peek() in ops:
            op = eat()
            right = sub()
            lt, ls = left
            rt, rs = right
            opf = _OPS[op]

            def thunk(opf=opf, lt=lt, rt=rt):
                return opf(lt(), rt())

            left = (thunk, f"{ls} {op} {rs}")
        return left

    def term():
        return binop(factor, ("*", "/"))

    def expr():
        return binop(term, ("+", "-"))

    out = expr()
    if peek() is not None:
        raise SimilarityScriptError(f"trailing tokens at {peek()!r}")
    return out


def scripted_similarity_topk(
    docs: DataFrame,
    terms: list[str],
    script: str,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """BM25-replacement ranking under a user similarity script: per
    matched (doc, term) the script evaluates over (tf, df, dl, avgdl,
    n_docs), parts sum per doc (rounded 6), rank-identity finish.

    Scale shape: identical to every direct similarity — the shared
    one-pass query._tf_dl_df relation (term-isin below the tf groupBy,
    df broadcast back, exchange reused) + the 1-row stats broadcast;
    the script is row-local arithmetic, so FileScan == 2 regardless of
    the script. (rank, doc_id, score)."""
    thunk, _sql = parse_similarity_script(script)
    base = _widen_scan(docs.select("doc_id", F.col(text_col).alias("__text")))
    matched = _tf_dl_df(base, sorted(set(terms)))
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("__dl"))
        .filter(F.col("__dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("__dl").alias("avgdl"))
    )
    m = matched.crossJoin(F.broadcast(stats))
    scores = (
        m.withColumn("part", thunk())
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scores, k)


def bm25_plus_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    delta: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """BM25+ similarity (Lv & Zhai, "Lower-Bounding Term Frequency
    Normalization", CIKM 2011) — the lower-bounded BM25 variant:

        idf   = ln((n_docs + 1) / df)
        part  = idf * ( (k1+1)*tf / (tf + k1*(1-b+b*dl/avgdl)) + delta )

    The +delta floor guarantees a long document that merely CONTAINS a
    query term still outscores one that doesn't — the defect BM25's
    length normalization has on verbose corpora. delta = 1.0 (the paper's
    recommended default; dyadic, so the sum stays exact cross-engine).
    Same one-pass _tf_dl_df shape as BM25: filtered tf with row-local dl,
    df via the bounded per-term groupBy broadcast, 1-row stats aggregate."""
    qterms = sorted(set(terms))
    base = _widen_scan(docs.select("doc_id", F.col(text_col).alias("__text")))
    matched = _tf_dl_df(base, qterms)
    stats = (
        base.select(F.size(tokens_expr("__text")).cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    m = matched.crossJoin(F.broadcast(stats))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / F.col("df"))
    norm = (F.col("tf") * F.lit(K1 + 1.0)) / (
        F.col("tf")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    part = idf * (norm + F.lit(float(delta)))
    scores = (
        m.select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scores, k)


def mmr_rerank(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein,
    SIGIR 1998 — the rerank ES's diversified sampler approximates):
    greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s) from a
    BM25 candidate pool. Both inputs to the greedy are engine-computed
    and ROUNDED (rel = rounded BM25, pairwise cosines rounded 6 in
    Spark); the greedy itself is pure comparisons over those identical
    doubles, so the coordinator-side loop and the oracle's unrolled
    argmax CTEs select the same sequence. λ dyadic (0.5).

    Scale shape: the pool is a bounded top-k (the ES rescore-window
    contract); the pairwise-cosine relation is pool² ≤ 400 rows; the
    greedy is a bounded coordinator loop (the expansion-collect envelope
    class). Docs without a vector drop out (the script_score join rule).
    (pick, doc_id, rel)."""
    from .dedup import cosine_expr
    from .query import bm25_scores

    ranked = _topk_ranked(bm25_scores(docs, terms, text_col=text_col), pool)
    cand = ranked.join(
        emb.select(F.col(vec_id_col).alias("doc_id"), F.col(vec_col).alias("__e")),
        "doc_id")
    rel_rows = cand.select("doc_id", F.col("score").alias("rel")).collect()
    a, b = cand.alias("a"), cand.alias("b")
    pair_df = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
                F.round(cosine_expr(F.col("a.__e"), F.col("b.__e")), 6)
                .alias("c")))
    pair_rows = pair_df.collect()
    cos = {(r["ia"], r["ib"]): r["c"] for r in pair_rows}
    rel = {r["doc_id"]: r["rel"] for r in rel_rows}
    remaining = sorted(rel, key=lambda d: (-rel[d], d))
    lam = float(lam)
    out = []
    while remaining and len(out) < int(k):
        if not out:
            choice = remaining[0]
        else:
            picked = [x[1] for x in out]
            best = None
            for d in remaining:
                mc = max(cos[(d, s)] for s in picked)
                m = lam * rel[d] - (1.0 - lam) * mc
                if best is None or m > best[0] or (m == best[0] and d < best[1]):
                    best = (m, d)
            choice = best[1]
        out.append((len(out) + 1, choice, rel[choice]))
        remaining = [d for d in remaining if d != choice]
    return docs.sparkSession.createDataFrame(
        out, "pick int, doc_id long, rel double").orderBy("pick")


def function_score_decay_linear(
    docs: DataFrame,
    terms: list[str],
    origin: float,
    scale: float,
    decay: float = 0.5,
    offset: float = 0.0,
    k: int = 10,
    field: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """ES function_score with a LINEAR decay on a numeric doc field (the
    piecewise-rational sibling of function_score_gauss):

        score = bm25 * max(0, (s - d) / s),
        d = max(0, |field - origin| - offset),  s = scale / (1 - decay)

    (at distance offset+scale the multiplier equals ``decay``; beyond
    d == s it clamps to exactly 0 — gauss never reaches zero). ``decay``
    must be dyadic so s is an exact driver-side literal shared with the
    oracle; the decay factor is row-local — no pass beyond bm25's own."""
    sig = float(scale) / (1.0 - float(decay))
    scores = bm25_scores(docs, terms, text_col=text_col)
    vals = docs.select("doc_id", F.col(field).cast("double").alias("__v"))
    d = F.greatest(
        F.lit(0.0),
        F.abs(F.col("__v") - F.lit(float(origin))) - F.lit(float(offset)))
    mult = F.greatest(F.lit(0.0), (F.lit(sig) - d) / F.lit(sig))
    out = (
        scores.join(vals, "doc_id")
        .select("doc_id",
                F.round(F.col("score") * mult, SCORE_DECIMALS)
                .alias("score"))
    )
    return _topk_ranked(out, k)
