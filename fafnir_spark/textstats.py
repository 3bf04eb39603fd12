"""Text analysis operators for large-scale training-data pipelines.

Everything is pure Column expressions (JVM-side, whole-stage codegen; no
Python in the hot path) and every operator has an exact DuckDB oracle in
oracles_ops.py. fafnir precedents: language handling (P8-P10, /root/reference
src/sources/openmaptiles/pois.rs:198-224, src/langs.rs:5-59), weight/quality
scoring (P11, convert.rs:161-168), token bags (P7, pois.rs:248-274).

Operators:
  token_count     whitespace token count
  quality_score   length/diversity/stopword blend in [0,1]
  lang_guess      stopword-hit language heuristic
  fingerprint     winnowing-style doc fingerprint: min portable-hash over
                  3-token shingles (document fingerprinting / rolling-hash
                  family; Schleimer et al. winnowing, SIGMOD'03)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .portable import hash60
from .tokenizer import tokens_expr

# quality/stop_ratio basis — a fixed contract (changing it changes every
# quality score); language ID uses the richer LANG_MARKERS below
STOPWORDS_EN = ["the", "a"]

# function-word tables per language: the per-language analyzer analog of
# fafnir's COUNTRIES_LANGS fill-in (/root/reference src/langs.rs:5-59).
# lang_guess = argmax of marker hits; ties (incl. all-zero) → 'und'.
# Both engines template their expressions from THIS dict (oracle parity).
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "les", "et"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "los", "las", "y"],
    "it": ["il", "che", "per", "di"],
    "pt": ["os", "uma", "das", "por"],
    "nl": ["het", "een", "van", "zijn"],
    "sv": ["och", "att", "det", "som"],
    "pl": ["nie", "sie", "jest", "w"],
    "tr": ["bir", "ve", "bu", "icin"],
}


def shingles_expr(text: Column | str, n: int = 3) -> Column:
    """Array of n-token shingles joined by '\\x1f' (empty if < n tokens).

    The token array is bound ONCE per row via the lambda-let
    (element_at(transform(array(e), f), 1)) — referencing the tokenization
    expression inside the per-shingle transform re-evaluates it per index
    (the winnow 25x lesson; measured ~2x on decontaminate at sf0.1)."""
    def body(ts: Column) -> Column:
        def join_at(i: Column) -> Column:
            return F.array_join(F.slice(ts, i + 1, n), "\x1f")

        shingled = F.transform(F.sequence(F.lit(0), F.size(ts) - n), join_at)
        return F.when(F.size(ts) >= n, shingled).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(tokens_expr(text)), body), 1)


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, stop_ratio, quality, lang_guess,
    fingerprint) — one declarative select, zero shuffles."""
    toks = tokens_expr(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    quality = F.round(
        F.lit(0.5) * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.when(n_tokens > 0, n_distinct / n_tokens).otherwise(F.lit(0.0)),
        6,
    )
    # argmax over the marker table: sort (hits, code) structs descending;
    # a tie between the top two (including the all-zero case) → 'und'
    def _hits(words: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    hit_structs = F.array(
        *[
            F.struct(_hits(m).alias("hits"), F.lit(code).alias("code"))
            for code, m in sorted(LANG_MARKERS.items())
        ]
    )
    ranked = F.sort_array(hit_structs, asc=False)
    first, second = F.element_at(ranked, 1), F.element_at(ranked, 2)
    lang_guess = F.when(
        first.getField("hits") == second.getField("hits"), F.lit("und")
    ).otherwise(first.getField("code"))
    fingerprint = F.array_min(F.transform(shingles_expr(text_col), lambda s: hash60(s)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality.alias("quality"),
        lang_guess.alias("lang_guess"),
        fingerprint.alias("fingerprint"),
    )


# BPE-ish pre-tokenizer: letter runs / digit runs / single non-alnum —
# the cheap word-piece proxy LLM pipelines use for token budgeting.
# Simple class-based pattern on purpose: identical semantics in Java
# regex (Spark) and RE2 (DuckDB oracle).
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws, n_bpe): whitespace token count vs BPE-ish word-piece
    count — pure JVM expressions, zero shuffle, both mirrored exactly by
    the DuckDB oracle (oracles_ops.token_counts_sql)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_expr(text_col)).alias("n_ws"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), F.lit(0))).alias("n_bpe"),
    )


def top_terms_per_doc(docs: DataFrame, k: int = 3,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """TF-IDF keyword extraction: the top-``k`` terms of every document by
    tf·ln(N/df) — per-doc windows (parallel across docs, no global sort).
    Ranking is on the 6-decimal-rounded score with term tie-break, the
    same rank-identity contract as BM25. (doc_id, rk, term, tfidf)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (
        base.select(F.size(tokens_expr("__text")).alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        # no broadcast hint on dfs: the df relation is full-vocabulary —
        # billions of distinct identifiers on code corpora — so the join
        # strategy is left to AQE (shuffle join at scale, auto-broadcast
        # only when the measured size fits)
        tf.join(dfs, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "rk", "term", "tfidf")
        .orderBy("doc_id", "rk")
    )


def _pair_at(w_col: Column):
    """i → 2-char slice of the word at i (named closure — the
    higher-order-lambda arity convention)."""
    def f(i: Column) -> Column:
        return w_col.substr(i, F.lit(2))

    return f


def bpe_pair_counts(docs: DataFrame, k: int = 20,
                    text_col: str = "text") -> DataFrame:
    """Distributed BPE tokenizer-training statistics (Sennrich et al.
    2016): the frequency of every adjacent character pair, weighted by
    word frequency — the argmax of this table IS the first BPE merge.

    Scale shape: the corpus-sized explode stops at the WORD level (one
    groupBy to the word-frequency table, |V| rows); the per-character
    explode then runs over the vocabulary only — at 100 TB the char-pair
    work is O(|V|·avg_len), not O(corpus). Pair counts are additive, so
    a training loop can recompute this table per merge round with the
    same bounded cost. (rank, pair, cnt), count-desc, pair-asc."""
    from pyspark.sql.window import Window

    toks = tokens_expr(text_col)
    words = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - F.lit(1)), _pair_at(F.col("w"))
    )
    pairs = (
        words.select(F.explode(pairs_arr).alias("pair"), F.col("freq"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("pair").asc()]
    top = pairs.orderBy(*order).limit(k)
    w = F.row_number().over(Window.orderBy(*order))
    return top.withColumn("rank", w).select("rank", "pair", "cnt").orderBy("rank")


def token_pmi(docs: DataFrame, vocab_top: int = 20, min_pairs: int = 5,
              k: int = 20, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Token co-occurrence statistics: top-k term pairs by pointwise
    mutual information over DOCUMENT-level co-occurrence — the classic
    collocation-mining primitive (Church & Hanks 1990) and the size-2
    form of ES's frequent_item_sets agg:

        pmi(a,b) = ln((n_ab * N) / (n_a * n_b))

    with n_* = doc-presence counts, N = docs with >=1 token. SCALE GUARD:
    pairing is restricted to the top-``vocab_top`` df terms (broadcast),
    so the per-doc pair explosion is O(vocab_top²), never O(doc_len²) —
    the standard vocabulary cap that keeps collocation mining linear in
    the corpus. (term_a, term_b, n_ab, pmi), pmi desc then pair asc."""
    from pyspark.sql.window import Window

    dt = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term")
    ).distinct()
    dfs = dt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    vocab = dfs.orderBy(F.col("n_t").desc(), F.col("term").asc()).limit(vocab_top)
    dtv = dt.join(F.broadcast(vocab.select("term")), "term").select("doc_id", "term")
    nn = dt.agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
    a = dtv.alias("a")
    b = dtv.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    na = vocab.select(F.col("term").alias("term_a"), F.col("n_t").alias("n_a"))
    nb = vocab.select(F.col("term").alias("term_b"), F.col("n_t").alias("n_b"))
    scored = (
        pairs.join(F.broadcast(na), "term_a")
        .join(F.broadcast(nb), "term_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "term_a", "term_b", "n_ab",
            F.round(
                F.log((F.col("n_ab") * F.col("n_docs")) / (F.col("n_a") * F.col("n_b"))), 6
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("term_a").asc(), F.col("term_b").asc()
    ).limit(k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("term_a").asc(), F.col("term_b").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "term_a", "term_b", "n_ab", "pmi"
    ).orderBy("rank")


def tokenizer_fertility(docs: DataFrame, lang_col: str = "lang",
                        text_col: str = "text") -> DataFrame:
    """Per-language tokenizer fertility — the LLM-pipeline diagnostic for
    how a subword vocabulary treats each language (tokens-per-word > 1
    signals over-segmentation; chars-per-word tracks script density):

        fertility       = Σ BPE-ish pieces / Σ whitespace words
        chars_per_word  = Σ non-space chars / Σ whitespace words

    ONE scan, all signals row-local before a per-language aggregate over
    the bounded language relation. (lang, n_docs, n_words, n_pieces,
    fertility, chars_per_word) ordered by lang."""
    per_doc = docs.select(
        F.col(lang_col).alias("lang"),
        F.size(tokens_expr(text_col)).cast("long").alias("nw"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), F.lit(0)))
        .cast("long").alias("np"),
        F.length(F.regexp_replace(F.col(text_col), " ", "")).cast("long").alias("nc"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nw").cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_pieces",
            F.round(F.col("n_pieces").cast("double") / F.col("n_words"), 6).alias("fertility"),
            F.round(F.col("n_chars").cast("double") / F.col("n_words"), 6).alias("chars_per_word"),
        )
        .orderBy("lang")
    )


def categorize_text(df: DataFrame, text_col: str = "msg") -> DataFrame:
    """ES categorize_text agg, deterministic core: log messages grouped by
    their digit-masked template (runs of digits → '#'), with per-category
    count and the lexicographically-first example. One hash aggregation —
    the categorizer a log pipeline runs over 10^12 lines is exactly this
    map-side-combining groupBy; the masking is a row-local regexp.
    (category, doc_count, example), ordered by category."""
    cat = F.regexp_replace(F.col(text_col), "[0-9]+", "#")
    return (
        df.select(cat.alias("category"), F.col(text_col).alias("msg"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
             F.min("msg").alias("example"))
        .orderBy("category")
    )


def _sym_join(sym_arr: Column):
    """i → 'sym[i] sym[i+1]' adjacent-pair string (named closure — the
    higher-order-lambda arity convention)."""
    def f(i: Column) -> Column:
        return F.concat_ws(
            " ", F.element_at(sym_arr, i), F.element_at(sym_arr, i + 1))

    return f


def _bpe_canonical(sym_arr: Column) -> Column:
    """Canonical double-spaced symbol string ' a  b  c ' — the separator
    duplication makes plain (regex-free, RE2-safe) replace() perform the
    exact greedy left-to-right non-overlapping BPE merge: consecutive
    occurrences never share a boundary space."""
    return F.concat(F.lit(" "), F.array_join(sym_arr, "  "), F.lit(" "))


def _bpe_symbols(s_col: Column) -> Column:
    return F.filter(F.split(s_col, " +"), _nonempty)


def _nonempty(x: Column) -> Column:
    return x != ""


def bpe_train(docs: DataFrame, n_merges: int = 4,
              text_col: str = "text") -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich'16) — the full greedy merge loop,
    not just the first pair table: each round counts adjacent SYMBOL
    pairs weighted by word frequency, picks the (cnt desc, pair asc)
    argmax, and rewrites every word by merging that pair left-to-right
    non-overlapping. Words live as canonical double-spaced symbol
    strings, so the merge is ONE portable string replace — ' a  b ' →
    ' ab ' — with the boundary spaces enforcing symbol edges (no regex,
    no lookaround; DuckDB-RE2-safe, same semantics both engines).

    Scale shape (the kmeans_train chaining precedent): the corpus-sized
    explode stops at the |V|-row word-frequency table; every round is
    O(|V|·avg_len) with a 1-ROW collect (the argmax) chained into the
    next round's plan as literals — driver state is the merge table
    itself, never corpus rows. (step, pair, cnt) ordered by step."""
    words = (
        docs.select(F.explode(tokens_expr(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    chars = F.filter(F.split(F.col("w"), ""), _nonempty)
    cur = words.select(_bpe_canonical(chars).alias("s"), "freq")
    spark = docs.sparkSession
    merges: list[tuple[int, str, int]] = []
    for step in range(1, n_merges + 1):
        sy = _bpe_symbols(F.col("s"))
        pairs_col = F.when(
            F.size(sy) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(sy) - 1), _sym_join(sy)),
        ).otherwise(F.array(F.lit("")).cast("array<string>"))
        best_rows = (
            cur.select(F.explode(pairs_col).alias("pair"), "freq")
            .filter(F.col("pair") != "")
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
        ).collect()
        if not best_rows:
            break
        pair, cnt = best_rows[0]["pair"], int(best_rows[0]["cnt"])
        merges.append((step, pair, cnt))
        pat = " " + pair.replace(" ", "  ") + " "
        rep = " " + pair.replace(" ", "") + " "
        cur = cur.select(
            _bpe_canonical(_bpe_symbols(F.replace(
                F.col("s"), F.lit(pat), F.lit(rep)))).alias("s"),
            "freq",
        )
    return spark.createDataFrame(merges, "step int, pair string, cnt long"
                                 ).orderBy("step")


def bpe_apply(docs: DataFrame, merges: list[str], k: int = 20,
              text_col: str = "text") -> DataFrame:
    """BPE tokenizer APPLICATION: segment the corpus with an ordered
    trained merge list (each ``merges`` entry a 'a b' pair string, the
    bpe_train output) and return the top-k resulting pieces by weighted
    count — train → apply is the full Sennrich'16 tokenizer round trip.

    Scale shape: segmentation runs on the |V|-row word-frequency table,
    never per occurrence (a word segments identically everywhere; its
    pieces are weighted by freq) — each merge is the same canonical
    double-spaced string replace as training, applied in order as one
    chained row-local expression. (piece, cnt) ordered (cnt desc,
    piece asc), k rows."""
    words = (
        docs.select(F.explode(tokens_expr(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    chars = F.filter(F.split(F.col("w"), ""), _nonempty)
    s = _bpe_canonical(chars)
    for pair in merges:
        pat = " " + pair.replace(" ", "  ") + " "
        rep = " " + pair.replace(" ", "") + " "
        s = _bpe_canonical(_bpe_symbols(F.replace(s, F.lit(pat), F.lit(rep))))
    return (
        words.select(F.explode(_bpe_symbols(s)).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(k)
    )


def ngram_diversity(docs: DataFrame, by: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Distinct-n diversity (the self-repetition audit text-generation
    work reports as distinct-1/distinct-2): per group, distinct unigrams
    over total tokens and distinct bigrams over total bigrams. A corpus
    slice whose ratios collapse is template/boilerplate-heavy — the
    group-level complement of repetition_signals' per-doc view. Plan: two
    explode + groupBy passes (count_distinct is the standard two-phase
    partial aggregate), result bounded by |groups|.
    (source, uni_ratio, bi_ratio, n_uni, n_bi) ordered by group."""
    uni = docs.select(F.col(by).alias("grp"),
                      F.explode(tokens_expr(text_col)).alias("t"))
    uagg = uni.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_uni"),
        F.count_distinct(F.col("t")).cast("long").alias("d_uni"))
    bi = docs.select(F.col(by).alias("grp"),
                     F.explode(shingles_expr(text_col, 2)).alias("b"))
    bagg = bi.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_bi"),
        F.count_distinct(F.col("b")).cast("long").alias("d_bi"))
    return (uagg.join(bagg, "grp", "left")
            .select(F.col("grp").alias(by),
                    F.round(F.col("d_uni") / F.col("n_uni"), 6).alias("uni_ratio"),
                    F.round(F.col("d_bi") / F.col("n_bi"), 6).alias("bi_ratio"),
                    "n_uni", "n_bi")
            .orderBy(by))


def zipf_fit(docs: DataFrame, top_n: int = 20,
             text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the vocabulary head: least-squares slope of
    ln(freq) on ln(rank) for the ``top_n`` most frequent terms (natural
    corpora fit slope ~ -1; synthetic/templated text bends away — a
    corpus-health indicator). Ranks are (cf desc, term asc); the fit uses
    the explicit raw-sum closed form over points ROUNDED to 6 (the
    matrix_stats float convention — never an engine's built-in
    regression recurrence). Post-top-N work is top_n rows.
    One row: (n_terms, slope, intercept)."""
    from pyspark.sql.window import Window

    cf = (docs.select(F.explode(tokens_expr(text_col)).alias("t"))
          .groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cf")))
    top = cf.orderBy(F.col("cf").desc(), F.col("t").asc()).limit(top_n)
    w = Window.orderBy(F.col("cf").desc(), F.col("t").asc())
    pts = (top.withColumn("rk", F.row_number().over(w))
           .select(F.round(F.log(F.col("rk").cast("double")), 6).alias("x"),
                   F.round(F.log(F.col("cf").cast("double")), 6).alias("y")))
    s = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"))


def _unigram_words(docs: DataFrame, text_col: str) -> DataFrame:
    """The |V|-row word-frequency table (word, wc, n) — the corpus-sized
    explode stops here; everything downstream is vocabulary-bounded
    (the bpe_train scale invariant)."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .withColumn("n", F.length("word"))
    )


def unigram_vocab(docs: DataFrame, vocab_size: int = 24, min_freq: int = 2,
                  max_piece_len: int = 4,
                  text_col: str = "text") -> DataFrame:
    """SentencePiece-style UNIGRAM tokenizer vocabulary (Kudo'18,
    frequency-model form): candidate pieces are every substring of every
    word up to ``max_piece_len`` chars, weighted by word frequency;
    the vocabulary keeps ALL single characters (full char coverage, so
    segmentation never fails) plus the top ``vocab_size`` multi-char
    pieces by (freq desc, piece asc) with freq >= ``min_freq``; piece
    log-probability is ln(freq / total) over the selected vocabulary,
    rounded 6 (the kmeans chaining convention — downstream Viterbi sums
    stay engine-identical). The full EM refinement of Kudo'18 is
    deliberately out of scope: the frequency model is deterministic and
    cross-engine exact, EM is neither.

    Scale shape: one corpus pass to the word table; the substring
    enumeration is row-local over |V| words (<= 63*max_piece_len pieces
    per word); piece counting is one vocab-bounded groupBy with map-side
    partials; top-N compiles to TakeOrderedAndProject.
    (piece, freq, lp) ordered by piece."""
    words = _unigram_words(docs, text_col)
    cand = F.expr(
        f"flatten(transform(sequence(1, least(n, 63)), s -> "
        f"transform(sequence(1, least({int(max_piece_len)}, n - s + 1)), "
        f"l -> substring(word, s, l))))")
    pieces = (words.select(F.explode(cand).alias("piece"), "wc")
              .groupBy("piece").agg(F.sum("wc").alias("freq")))
    chars = pieces.filter(F.length("piece") == 1)
    multis = (pieces
              .filter((F.length("piece") > 1) & (F.col("freq") >= int(min_freq)))
              .orderBy(F.col("freq").desc(), F.col("piece").asc())
              .limit(int(vocab_size)))
    vocab0 = chars.unionByName(multis)
    tot = vocab0.agg(F.sum("freq").cast("double").alias("t"))
    return (vocab0.crossJoin(F.broadcast(tot))
            .select("piece", "freq",
                    F.round(F.log(F.col("freq") / F.col("t")), 6).alias("lp"))
            .orderBy("piece"))


def unigram_segment(docs: DataFrame, vocab_size: int = 24, min_freq: int = 2,
                    max_piece_len: int = 4, seg_max_len: int = 10,
                    text_col: str = "text") -> DataFrame:
    """Unigram-LM tokenization (Kudo'18): segment every distinct word of
    length <= ``seg_max_len`` into the maximum-likelihood piece sequence
    under the unigram_vocab model — EXACT Viterbi by enumerating all
    2^(n-1) cut masks per word (the DP's search space, materialized
    relationally). A mask's boundaries derive from its bits row-local;
    pieces join the vocabulary (a missing piece invalidates the mask);
    the score is a FIXED left-to-right fold over the rounded-6 piece
    logprobs (float addition isn't associative — the PQ ADC rule), and
    the per-word argmax orders by (score desc, n_pieces asc, pieces asc)
    so ties are deterministic.

    Scale shape: cost is vocabulary-bounded — |distinct words| * 2^(n-1)
    mask rows (<= 512 at seg_max_len 10), never corpus rows; the vocab
    join is a broadcast of a <= (vocab_size + |alphabet|)-row relation;
    the argmax window partitions by word over <= 512 candidates.
    (word, pieces, n_pieces, score) ordered by word."""
    from pyspark.sql.window import Window

    vocab = unigram_vocab(docs, vocab_size, min_freq, max_piece_len,
                          text_col).select("piece", "lp")
    words = _unigram_words(docs, text_col).filter(
        F.col("n") <= int(seg_max_len))
    masks = words.select(
        "word", "n",
        F.explode(F.expr(
            "sequence(0, cast(pow(2, n - 1) as bigint) - 1)")).alias("mask"))
    # boundary positions after char i where mask bit i-1 is set; n=1 must
    # yield no inner boundary (Spark sequence(1, 0) DESCENDS — guard it)
    bnds = masks.withColumn("bnds", F.expr(
        "concat(array(0), "
        "if(n > 1, filter(sequence(1, n - 1), i -> "
        "pmod(mask div cast(pow(2, i - 1) as bigint), 2) = 1), "
        "cast(array() as array<int>)), array(n))"))
    pcs = bnds.select(
        "word", "mask",
        F.posexplode(F.expr(
            "transform(sequence(1, size(bnds) - 1), k -> "
            "substring(word, element_at(bnds, k) + 1, "
            "element_at(bnds, k + 1) - element_at(bnds, k)))")
        ).alias("k", "piece"))
    sc = pcs.join(F.broadcast(vocab), "piece", "left")
    grp = sc.groupBy("word", "mask").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.count("lp").alias("n_ok"),
        F.collect_list(F.struct("k", "lp")).alias("lps"),
        F.collect_list(F.struct("k", "piece")).alias("ps"))
    valid = grp.filter(F.col("n_ok") == F.col("np")).select(
        "word", "np",
        F.round(F.expr(
            "aggregate(transform(array_sort(lps), x -> x.lp), 0D, "
            "(a, x) -> a + x)"), 6).alias("score"),
        F.expr("array_join(transform(array_sort(ps), x -> x.piece), ' ')"
               ).alias("pieces"))
    w = Window.partitionBy("word").orderBy(
        F.col("score").desc(), F.col("np").asc(), F.col("pieces").asc())
    return (valid.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("word", "pieces", F.col("np").alias("n_pieces"), "score")
            .orderBy("word"))


def wordpiece_vocab(docs: DataFrame, vocab_size: int = 24, min_freq: int = 2,
                    max_piece_len: int = 4,
                    text_col: str = "text") -> DataFrame:
    """WordPiece tokenizer vocabulary (Wu et al. 2016, BERT's tokenizer),
    frequency form: candidate FORMS are every word substring up to
    ``max_piece_len`` chars, '##'-prefixed when the substring starts
    mid-word (WordPiece's continuation marker — 'ab' at word start and
    '##ab' mid-word are DISTINCT vocabulary entries, unlike unigram);
    counts weighted by word frequency. Full char coverage (every 1-char
    form in both positions is kept, so greedy segmentation never hits
    UNK) plus the top ``vocab_size`` multi-char forms by
    (freq desc, form asc) with freq >= ``min_freq``. The likelihood-gain
    training of the original paper is out of scope for the same reason
    unigram_vocab skips EM: the frequency model is deterministic and
    cross-engine exact.

    Scale shape: one corpus pass to the |V|-row word table
    (_unigram_words); form enumeration is row-local; counting is one
    vocab-bounded groupBy. (form, freq) ordered by form."""
    words = _unigram_words(docs, text_col)
    cand = F.expr(
        f"flatten(transform(sequence(1, least(n, 63)), s -> "
        f"transform(sequence(1, least({int(max_piece_len)}, n - s + 1)), "
        f"l -> if(s > 1, concat('##', substring(word, s, l)), "
        f"substring(word, s, l)))))")
    forms = (words.select(F.explode(cand).alias("form"), "wc")
             .groupBy("form").agg(F.sum("wc").cast("long").alias("freq")))
    base_len = F.when(F.col("form").startswith("##"),
                      F.length("form") - 2).otherwise(F.length("form"))
    chars = forms.filter(base_len == 1)
    multis = (forms
              .filter((base_len > 1) & (F.col("freq") >= int(min_freq)))
              .orderBy(F.col("freq").desc(), F.col("form").asc())
              .limit(int(vocab_size)))
    return chars.unionByName(multis).orderBy("form")


def wordpiece_segment(docs: DataFrame, vocab_size: int = 24,
                      min_freq: int = 2, max_piece_len: int = 4,
                      seg_max_len: int = 10,
                      text_col: str = "text") -> DataFrame:
    """WordPiece tokenization: greedy longest-match-first segmentation of
    every distinct word (<= ``seg_max_len`` chars) under the
    wordpiece_vocab model — expressed relationally through the
    unigram_segment cut-mask enumeration. Greedy never backtracks, and
    full char coverage guarantees every prefix extends to a valid
    segmentation, so greedy == the valid mask whose piece-length sequence
    is lexicographically MAXIMAL: the argmax key is the digit string of
    piece lengths (max_piece_len <= 9 keeps every length one digit), a
    plain string compare identical in both engines.

    Scale shape: the unigram_segment invariant — |distinct words| ×
    2^(n-1) mask rows, vocab broadcast, per-word window over <= 512
    candidates; never corpus rows. (word, pieces, n_pieces) by word."""
    if int(max_piece_len) > 9:
        raise ValueError("digit-string greedy key needs max_piece_len <= 9")
    from pyspark.sql.window import Window

    vocab = wordpiece_vocab(docs, vocab_size, min_freq, max_piece_len,
                            text_col).select("form")
    words = _unigram_words(docs, text_col).filter(
        F.col("n") <= int(seg_max_len))
    masks = words.select(
        "word", "n",
        F.explode(F.expr(
            "sequence(0, cast(pow(2, n - 1) as bigint) - 1)")).alias("mask"))
    bnds = masks.withColumn("bnds", F.expr(
        "concat(array(0), "
        "if(n > 1, filter(sequence(1, n - 1), i -> "
        "pmod(mask div cast(pow(2, i - 1) as bigint), 2) = 1), "
        "cast(array() as array<int>)), array(n))"))
    pcs = bnds.select(
        "word", "mask",
        F.posexplode(F.expr(
            "transform(sequence(1, size(bnds) - 1), k -> "
            "substring(word, element_at(bnds, k) + 1, "
            "element_at(bnds, k + 1) - element_at(bnds, k)))")
        ).alias("k", "piece"))
    pcs = pcs.withColumn(
        "form",
        F.when(F.col("k") > 0, F.concat(F.lit("##"), F.col("piece")))
        .otherwise(F.col("piece")))
    sc = pcs.join(F.broadcast(vocab.withColumn("__ok", F.lit(1))),
                  "form", "left")
    grp = sc.groupBy("word", "mask").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.count("__ok").alias("n_ok"),
        F.collect_list(F.struct("k", "piece", "form")).alias("ps"))
    valid = grp.filter(F.col("n_ok") == F.col("np")).select(
        "word", "np",
        F.expr("array_join(transform(array_sort(ps), "
               "x -> cast(length(x.piece) as string)), '')").alias("gk"),
        F.expr("array_join(transform(array_sort(ps), x -> x.form), ' ')"
               ).alias("pieces"))
    w = Window.partitionBy("word").orderBy(F.col("gk").desc())
    return (valid.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("word", "pieces", F.col("np").alias("n_pieces"))
            .orderBy("word"))


def textrank_keywords(docs: DataFrame, iters: int = 3,
                      damping: float = 0.85, k: int = 15,
                      text_col: str = "text") -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): PageRank
    over the corpus token co-occurrence graph — an edge links each adjacent
    token pair (both directions, self-loops dropped, DISTINCT pairs — the
    classic unweighted graph). Fixed power iterations with the
    graph_pagerank conventions: dangling mass dropped identically in both
    engines, every iteration's score ROUNDED to 6 so chained float sums
    stay engine-identical.

    Scale shape: the pair explode is row-local (transform over the token
    array); the graph is DISTINCT (a, b) pairs — vocab-bounded (≤ |V|²
    edges), so every iteration's join + groupBy shuffles a relation sized
    by the VOCABULARY, never the corpus. (rank, term, score) top-k by
    (score desc, term asc)."""
    from pyspark.sql.window import Window

    d = float(damping)
    base = docs.select(tokens_expr(text_col).alias("tk")).filter(
        F.size("tk") >= 2)
    # adjacent pairs via one zip_with over the aliased token array —
    # element_at(tk, i) per sequence index re-inlines the tokenization
    # per element once filter pushdown re-collapses the projects (the
    # span-family lesson: quadratic per doc)
    pairs = F.expr(
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), "
        "(x, y) -> struct(x AS a, y AS b))")
    bg = (base.select(F.explode(pairs).alias("p"))
          .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .filter(F.col("a") != F.col("b")))
    # the vocab-bounded graph is referenced by every power iteration —
    # localCheckpoint once (the markov vp rule) instead of re-deriving
    # the corpus pair-explode + distinct per iteration reference
    edges = (bg.select(F.col("a").alias("src"), F.col("b").alias("dst"))
             .unionByName(bg.select(F.col("b").alias("src"),
                                    F.col("a").alias("dst")))
             .distinct()).localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = (nodes.crossJoin(F.broadcast(nn))
          .select("node", F.round(F.lit(1.0) / F.col("n"), 6).alias("pr")))
    for _ in range(int(iters)):
        contrib = (
            edges.join(deg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c")))
        inc = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("inc"))
        pr = (nodes.join(inc, "node", "left")
              .crossJoin(F.broadcast(nn))
              .select(
                  "node",
                  F.round((F.lit(1.0) - F.lit(d)) / F.col("n")
                          + F.lit(d) * F.coalesce(F.col("inc"), F.lit(0.0)),
                          6).alias("pr")))
    top = pr.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(int(k))
    w = F.row_number().over(
        Window.orderBy(F.col("pr").desc(), F.col("node").asc()))
    return (top.withColumn("rank", w)
            .select("rank", F.col("node").alias("term"),
                    F.col("pr").alias("score")).orderBy("rank"))


def hashing_tf(docs: DataFrame, n_buckets: int = 64, doc_mod: int = 25,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Feature hashing (the hashing trick; Weinberger et al., ICML 2009 —
    Spark MLlib's HashingTF re-expressed relationally): each token maps to
    bucket = pmod(hash60(term), n_buckets) and the per-doc sparse vector is
    the (doc_id, bucket, tf) relation — no vocabulary table, no fit pass,
    the property that makes it the 100 TB-safe vectorizer. The driver row
    emits the vectors for the deterministic pmod(doc_id, doc_mod)==0 slice
    (doc_id can be negative — pmod, never %).

    Scale shape: one explode + one groupBy(doc_id, bucket) with map-side
    combine; the doc filter sits below the explode so the scan prunes
    first. (doc_id, bucket, tf) ordered."""
    base = docs.filter(F.pmod(F.col(id_col), F.lit(int(doc_mod))) == 0)
    tok = base.select(F.col(id_col).alias("doc_id"),
                      F.explode(tokens_expr(text_col)).alias("term"))
    bkt = F.pmod(hash60(F.col("term")), F.lit(int(n_buckets)))
    return (tok.select("doc_id", bkt.alias("bucket"))
            .groupBy("doc_id", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .orderBy("doc_id", "bucket"))


def token_graph_triangles(docs: DataFrame, k: int = 20,
                          text_col: str = "text") -> DataFrame:
    """Triangle counting + local clustering coefficient over the token
    co-occurrence graph (the third classic graph kernel next to
    graph_pagerank/graph_hits; Watts & Strogatz 1998 for the coefficient,
    the ordered-edge join of Suri & Vassilvitskii WWW'11 for the count):
    undirected DISTINCT adjacent-token edges canonicalized a < b, triangles
    enumerated as e(a,b) ⋈ e(b,c) ⋈ e(a,c) with a < b < c so each triangle
    is produced exactly once; cc(v) = 2·t(v) / (deg·(deg−1)).

    Scale shape: the edge relation is vocab-bounded (≤|V|² rows), each
    join is an equi-join on a node key; at web scale the canonical order
    would be by DEGREE (the standard skew heuristic) — string order here
    keeps the oracle shared. (term, deg, n_triangles, clustering) top-k
    by (n_triangles desc, term asc)."""
    base = docs.select(tokens_expr(text_col).alias("tk")).filter(
        F.size("tk") >= 2)
    pairs = F.expr(
        "transform(sequence(1, size(tk) - 1), "
        "i -> struct(element_at(tk, i) AS a, element_at(tk, i + 1) AS b))")
    bg = (base.select(F.explode(pairs).alias("p"))
          .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
          .filter(F.col("a") != F.col("b")))
    und = (bg.select(F.least("a", "b").alias("a"),
                     F.greatest("a", "b").alias("b")).distinct())
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = und.join(e2, "b").join(e3, ["a", "c"])
    tn = tri.select(F.explode(F.array("a", "b", "c")).alias("term"))
    tc = tn.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"))
    sym = (und.select(F.col("a").alias("term"))
           .unionByName(und.select(F.col("b").alias("term"))))
    deg = sym.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    out = tc.join(deg, "term").select(
        "term", "deg", "n_triangles",
        F.round((F.lit(2.0) * F.col("n_triangles"))
                / (F.col("deg") * (F.col("deg") - F.lit(1))), 6)
        .alias("clustering"))
    from pyspark.sql.window import Window
    top = out.orderBy(F.col("n_triangles").desc(), F.col("term").asc()) \
             .limit(int(k))
    w = F.row_number().over(
        Window.orderBy(F.col("n_triangles").desc(), F.col("term").asc()))
    return (top.withColumn("rank", w)
            .select("rank", "term", "deg", "n_triangles", "clustering")
            .orderBy("rank"))
