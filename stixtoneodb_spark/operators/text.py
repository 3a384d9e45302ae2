"""Text-analysis operators over the documents table: language ID, quality
scoring, token counting, fingerprinting.  All JVM-side built-ins; counts
and integer scores (not floats) wherever oracle-compared.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stixtoneodb_spark.sources.tables import load_table

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "la", "les", "et"),
}


def _ws_tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (portable: identical semantics
    in DuckDB via string_split)."""
    return F.split(F.lower(text), " ")


def _count_in(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(chars/4) — the standard bytes-per-token heuristic)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_ws_tokens(F.col("text"))).alias("n_tokens_ws"),
        F.ceil(F.length("text") / F.lit(4)).cast("long").alias("n_tokens_bpe_est"),
        F.length("text").alias("n_chars_actual"),
    )


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, mean token length (x100, integer —
    float-format-proof), stopword count, alpha-char count."""
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    n_tok = F.size(toks)
    total_tok_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (total_tok_len * 100 / F.greatest(n_tok, F.lit(1))).cast("long").alias("mean_token_len_x100"),
        _count_in(toks, STOPWORDS_EN).alias("n_stopwords"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("n_alpha_chars"),
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-stopword counts per language, argmax
    with deterministic tie-break (marker count desc, then language name).
    Emits the per-language scores alongside the verdict so the oracle can
    check both."""
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    scores = {lang: _count_in(toks, words) for lang, words in MARKERS.items()}
    scored = d.select(
        "doc_id", *[scores[lang].alias(f"score_{lang}") for lang in sorted(MARKERS)]
    )
    # argmax via greatest + case chain in alphabetical order (ties -> first)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(MARKERS)])
    verdict = F.lit("und")
    for lang in sorted(MARKERS, reverse=True):
        verdict = F.when((F.col(f"score_{lang}") == best) & (best > 0), lang).otherwise(verdict)
    return scored.withColumn("lang_pred", verdict)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full content hash + a winnowing-style
    prefix fingerprint (hash of the first 64 chars of lowercase text)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower("text")).alias("content_fp"),
        F.md5(F.substring(F.lower("text"), 1, 64)).alias("prefix_fp"),
    )


def text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency: explode tokens → count → top 20 —
    the vocabulary-building primitive."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_ws_tokens(F.col("text"))).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


def kg_mentions_sql_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection, SQL-portable tier: fixed-vocabulary token match
    over documents (the oracle-checkable mirror of the pandas-UDF gazetteer
    detector in plans/extract.py)."""
    vocab = ("spark", "customer", "vector", "window", "stream")
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_ws_tokens(F.col("text"))).alias("token"))
        .where(F.col("token").isin(*vocab))
        .groupBy("doc_id", F.col("token").alias("mention"))
        .agg(F.count("*").alias("n_occurrences"))
    )


def kg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence pairs (the flagship 'top co-mentioned pairs'
    shape): self-join of per-doc mention sets, pair-ordered."""
    vocab = ("spark", "customer", "vector", "window", "stream")
    d = load_table(spark, sf_dir, "documents")
    m = (
        d.select("doc_id", F.explode(_ws_tokens(F.col("text"))).alias("token"))
        .where(F.col("token").isin(*vocab))
        .select("doc_id", "token")
        .distinct()
    )
    a = m.select("doc_id", F.col("token").alias("mention_a"))
    b = m.select("doc_id", F.col("token").alias("mention_b"))
    return (
        a.join(b, "doc_id")
        .where(F.col("mention_a") < F.col("mention_b"))
        .groupBy("mention_a", "mention_b")
        .agg(F.count("*").alias("n_docs"))
    )


TFIDF_TOP_K = 3


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``TFIDF_TOP_K`` terms by TF-IDF — the
    vocabulary-weighting primitive of a training-data pipeline (term
    salience for filtering/feature extraction).

    Uses the RATIO idf variant (idf = N/df, no logarithm): the score is
    then a product/quotient of IEEE-exact operations, bit-identical
    across engines, so the DuckDB oracle can hash-compare values.  The
    log form differs at 1 ulp between libm implementations (JVM
    Math.log vs DuckDB std::log) and would make the oracle flaky at
    rounding boundaries.

    Scale shape: two partial-agg groupBys (doc-term tf, term df) plus a
    broadcast 1-row corpus count and a per-document top-k window — the
    window key is doc_id, so no partition can exceed a document's
    vocabulary.  All JVM built-ins, no UDFs.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    tok = d.select(
        "doc_id", F.explode(_ws_tokens(F.col("text"))).alias("term")
    ).where(F.length("term") > 0)
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(F.col("tf").cast("double") * F.col("n_docs") / F.col("df"), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


SAMPLE_PER_STRATUM = 50
# Pre-filter oversampling factor: survivors per stratum are expected
# K * SAMPLE_OVERSAMPLE, from which the exact top-K by hash is taken.
SAMPLE_OVERSAMPLE = 4


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: ``SAMPLE_PER_STRATUM`` docs
    per language, selected by PORTABLE hash order (md5 of doc_id) — the
    data-balance / curriculum primitive of a training-data pipeline.
    Hash-order selection is reproducible across engines, partitionings
    and runs (no rand()/TABLESAMPLE), and the DuckDB oracle replays the
    identical rule.

    Scale shape: a naive per-stratum row_number shuffles the WHOLE corpus
    on the stratum key — with a handful of languages that is catastrophic
    skew at 100 TB.  Instead a map-side hash-threshold pre-filter keeps
    only ~K·SAMPLE_OVERSAMPLE expected rows per stratum (threshold =
    2^32·K·OVERSAMPLE / |stratum|, from a cheap broadcast stratum-count
    agg), and only the survivors enter the per-stratum top-K window — the
    windowed data is bounded by construction regardless of corpus size.
    The pre-filter is part of the operator SPEC (the oracle applies the
    same rule), so a hash-tail stratum yielding fewer than K rows agrees
    on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    hk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_stratum"))
    bound = (
        F.lit(float(2**32) * SAMPLE_PER_STRATUM * SAMPLE_OVERSAMPLE)
        / F.col("n_stratum")
    )
    pre = (
        d.withColumn("hk", hk)
        .join(F.broadcast(counts), "lang")
        .where(F.col("hk") <= bound)
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        pre.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("doc_id", "lang", "hk", "rk")
    )


NGRAM_SPAN = 8


def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection: every whitespace 8-gram that appears in
    two or more DISTINCT documents, with its doc count and total
    occurrence count — the exact-substring tier of training-data dedup
    (Lee et al. 2022, 'Deduplicating Training Data Makes Language Models
    Better', arXiv:2107.06499: repeated ~50-token spans are memorized;
    the suffix-array pass that paper uses is approximated here by the
    fixed-width sliding n-gram, the standard distributed relaxation).

    Spark shape: tokens → transform(sequence(1, n-7)) sliding windows →
    explode → EXPLICIT two-level aggregation: partial-agg on
    (gram, doc_id) then agg on gram.  Entirely JVM built-ins (no UDF).
    The naive ``agg(countDistinct(doc_id), count(*))`` form plans through
    RewriteDistinctAggregates' Expand, which DOUBLES every exploded row
    (~60 bytes of gram string each) before the first partial aggregate;
    the manual two-level form ships each (gram, doc) once — all
    occurrences of a gram within one doc sit in the same input partition,
    so the first partial agg collapses them map-side and the second
    shuffle is survivor-scale.  At 100 TB the gram string is replaced by
    xxhash64 over the 8 token columns so the big shuffle carries 8
    bytes/row (strings recovered by a survivor semi-join,
    collision-checked) — documented here, kept as the readable string at
    oracle scale.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    n = F.size(toks)
    grams = F.when(
        n >= NGRAM_SPAN,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(NGRAM_SPAN - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_SPAN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select("doc_id", F.explode(grams).alias("gram"))
    per_doc = exploded.groupBy("gram", "doc_id").agg(F.count("*").alias("occ"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("occ").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


def dedup_repeated_ngrams_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB physical plan for ``dedup_repeated_ngrams``, made real:
    identical output (same oracle SQL), but the corpus-scale shuffle
    carries ``xxhash64`` over the 8 token slots — 8 bytes/row instead of
    the ~60-byte gram string.

    Two passes over the pruned text column:

    1. explode gram HASHES (``xxhash64(slice(toks, i, 8))`` — hashing the
       token array directly, no string ever built) → the same two-level
       (h, doc_id) → (h) aggregation as the string plan → survivors
       (n_docs >= 2), a frame orders of magnitude smaller than the gram
       stream.
    2. re-scan, explode only the window INDEX, recompute each position's
       hash, and join survivors on h BEFORE materializing any string —
       Catalyst plans this as a broadcast/bloom-pruned join at survivor
       cardinality, so concat_ws runs only for surviving positions.  One
       row per gram via a final survivor-scale groupBy.

    A 64-bit collision would fuse two distinct grams; at 10^9 distinct
    grams the birthday bound is ~3% for ONE collision anywhere — the
    production recipe is the verify pass the MinHash tier already uses
    (group survivors by h, countDistinct(gram) == 1); at oracle scale the
    hash-equality against the string plan's oracle IS the collision check.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    n = F.size(toks)
    idx = F.when(
        n >= NGRAM_SPAN,
        F.sequence(F.lit(1), n - F.lit(NGRAM_SPAN - 1)),
    ).otherwise(F.array().cast("array<int>"))
    hashes = F.transform(idx, lambda i: F.xxhash64(F.slice(toks, i, NGRAM_SPAN)))
    eh = d.select("doc_id", F.explode(hashes).alias("h"))
    per_doc = eh.groupBy("h", "doc_id").agg(F.count("*").alias("occ"))
    surv = (
        per_doc.groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.sum("occ").alias("n_occurrences"))
        .where(F.col("n_docs") >= 2)
    )
    pos = d.select(toks.alias("t"), F.explode(idx).alias("i")).withColumn(
        "h", F.xxhash64(F.slice(F.col("t"), F.col("i"), NGRAM_SPAN))
    )
    return (
        pos.join(surv, "h")
        .select(
            F.concat_ws(" ", F.slice(F.col("t"), F.col("i"), NGRAM_SPAN)).alias("gram"),
            "n_docs",
            "n_occurrences",
        )
        .groupBy("gram")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_occurrences").alias("n_occurrences"),
        )
    )


def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function family as a standalone query: distinct/sort/min/max/
    slice over the token array (vocabulary stats per document).  All
    codegen built-ins; string min/max compare bytewise in both engines
    (tokens are lowercase ASCII by construction)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_min(toks).alias("token_min"),
        F.array_max(toks).alias("token_max"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
    )


# BM25 (Okapi) retrieval scoring — the standard lexical ranking function
# of a retrieval / RAG data pipeline.  Constants are the textbook
# defaults; the QUERY term set is fixed so the operator is a pure
# function of the corpus (and oracle-comparable).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window", "hash")
BM25_TOP_K = 20


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BM25_TOP_K`` documents by Okapi BM25 score for the fixed
    ``BM25_QUERY_TERMS`` query — lexical retrieval scoring, the ranking
    primitive behind RAG corpus search and quality-weighted sampling.

    Cross-engine determinism (the TF-IDF lesson, text_tfidf_top_terms):
    the classical log-idf differs at 1 ulp between libm implementations,
    and a float SUM over per-term contributions is order-dependent — so
    (a) idf is the RATIONAL Robertson form without the log,
    (b) each per-term contribution is floored to integer micro-units
        (``floor(c * 1e6)``) BEFORE the sum — an integer sum is
        order-independent and exact, so the DuckDB oracle hash-matches
        bit-for-bit.
    All remaining arithmetic is IEEE +,-,*,/ with identical literals and
    association order in both engines (correctly-rounded, deterministic).

    Scale shape: per-term tf is a map-side array filter per document
    (NEVER an explode of the full corpus vocabulary — the per-term frame
    carries |query| rows per MATCHED document only); df and corpus stats
    are broadcast 4-row / 1-row aggregates; the only shuffle is the
    matched-docs groupBy(doc_id), and the final top-k is
    TakeOrderedAndProject (O(n) scan + bounded heap, no global sort).
    The query-term frame is recomputed for the df agg rather than
    persisted: at corpus scale two pruned columnar scans beat caching a
    corpus-sized frame (the turns-cache lesson, plans/pipeline.py).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: F.length(t) > 0)
    docs = d.select("doc_id", toks.alias("toks")).withColumn("dl", F.size("toks"))
    stats = docs.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
    )
    def _eq(term: str):
        # NOTE: a bound-default 2-parameter lambda would be treated by
        # F.filter as the (element, index) form — the closure keeps it unary
        return lambda x: x == F.lit(term)

    per_term = (
        docs.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.size(F.filter("toks", _eq(t)))
                            .cast("long")
                            .alias("tf"),
                        )
                        for t in BM25_QUERY_TERMS
                    ]
                )
            ).alias("qt"),
        )
        .select("doc_id", "dl", F.col("qt.term").alias("term"), F.col("qt.tf").alias("tf"))
        .where(F.col("tf") > 0)
    )
    dfreq = per_term.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        per_term.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c",
            F.floor(
                (
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
                    )
                )
                * F.lit(1000000.0)
            ),
        )
    )
    topk = (
        scored.groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"), F.sum("c").alias("score_micro"))
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(BM25_TOP_K)
    )
    # rank over the already-bounded top-k frame (≤ BM25_TOP_K rows — the
    # single-partition window is on a driver-sized frame, never the corpus)
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return topk.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", "n_terms", "score_micro", "rk"
    )


# Corpus-curation thresholds (shared with the oracle SQL via registry
# interpolation).
CURATE_LANG = "en"
CURATE_MIN_TOKENS = 20


def corpus_curate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation decision — one row per document
    with every filter verdict and the final ``keep``: language filter,
    minimum-length floor, exact-dup canonicalization (min doc_id per
    content hash wins), and near-dup loser removal (a doc loses iff the
    MinHash-LSH pair set pairs it with a smaller doc_id).  This is the
    training-data pipeline's actual decision table: the individual
    operators are the tiers; this query is how a user runs them together.

    Scale shape: the flags are one pass over the corpus (the exact-dup
    window shuffles 16-byte md5 keys, the dedup_exact_rows pattern); the
    near-dup loser set is pair-graph-cardinality (orders of magnitude
    below the corpus) and joins back on doc_id — broadcastable in
    practice, AQE-converted when small.  No step re-shuffles the corpus
    on a skewed key.
    """
    from stixtoneodb_spark.operators import dedup  # local: avoid cycles

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    w = Window.partitionBy(F.md5("text"))
    flags = d.select(
        "doc_id",
        (F.col("lang") == CURATE_LANG).alias("is_lang"),
        (n_tok >= CURATE_MIN_TOKENS).alias("long_enough"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("exact_canonical"),
    )
    losers = (
        dedup.dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_loser", F.lit(True))
    )
    out = flags.join(losers, "doc_id", "left").withColumn(
        "neardup_loser", F.coalesce(F.col("_loser"), F.lit(False))
    )
    return out.select(
        "doc_id",
        "is_lang",
        "long_enough",
        "exact_canonical",
        "neardup_loser",
        (
            F.col("is_lang")
            & F.col("long_enough")
            & F.col("exact_canonical")
            & ~F.col("neardup_loser")
        ).alias("keep"),
    )


PRIORITY_SAMPLE_K = 50


def corpus_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield–Lund–Thorup, JACM 2007): each doc draws a deterministic
    pseudo-uniform u_i from md5(doc_id) and gets priority q_i = w_i / u_i
    (weight = n_chars); the sample is the top-``PRIORITY_SAMPLE_K`` docs
    by priority — inclusion probability is weight-proportional, and the
    scheme is mergeable (a top-k of per-partition top-ks), which is what
    makes it the 100-TB weighted sampler.

    Portability: u_i is an INTEGER in [1, 2^32] (first 8 md5 hex digits
    + 1); q_i = w/u is ONE correctly-rounded IEEE double division of two
    exactly-representable integers — bit-identical on every engine, no
    transcendentals (contrast A-ES exponential keys, which need ln()).

    Scale shape: map-side per-partition heaps via TakeOrderedAndProject —
    no global sort, no shuffle beyond k rows per partition.  The rank is
    re-derived AFTER the top-k on k rows.
    """
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + F.lit(1)
    )
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars").cast("double") / u.cast("double")).alias("priority"),
    )
    topk = scored.orderBy(F.desc("priority"), "doc_id").limit(PRIORITY_SAMPLE_K)
    w = Window.orderBy(F.desc("priority"), "doc_id")
    return topk.select(
        "doc_id", "lang", "n_chars", F.row_number().over(w).alias("sample_rank")
    )


BPE_MERGES = 10
# sentinel-wrapped token encoding: every token rides as \x01<text>\x02 and
# tokens are joined by TWO spaces, so a literal pair replace can never
# match inside another token or consume a neighbor's separator
_BPE_S1, _BPE_S2 = "\x01", "\x02"


def _bpe_strip(s: str) -> str:
    return s.replace(_BPE_S1, "").replace(_BPE_S2, "")


def _bpe_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, seq) distinct-word histogram the merge loop trains on.

    ``localCheckpoint(eager=True)`` materializes it ONCE and truncates
    lineage, so the corpus scan happens exactly once per training run:
    every per-step job (pair count, rewrite) roots at the cached
    vocabulary-scale RDD — even under cache eviction the corpus is never
    re-read.  This is the HF/sentencepiece trainer shape: merges are
    learned over the word histogram, which is vocabulary-scale, while
    the corpus enters only to build it."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_ws_tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    wrap = F.expr(
        f"rtrim(regexp_replace(word, '([\\\\s\\\\S])', '{_BPE_S1}$1{_BPE_S2}  '))"
    )
    return words.select("word", "cnt", wrap.alias("seq")).localCheckpoint(eager=True)


def _bpe_pair_counts(prev: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the histogram's symbol
    sequences — the per-step shuffle; its plan roots at the checkpointed
    histogram, never at the corpus (pinned by tests/test_text_ops.py)."""
    arr = F.split("seq", "  ")
    pz = F.arrays_zip(arr, F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(1))))
    return (
        prev.select("cnt", F.explode(pz).alias("pz"))
        .select(
            "cnt",
            F.col("pz")["0"].alias("l"),
            F.col("pz")["1"].alias("r"),
        )
        .where(F.col("r").isNotNull())
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("pc"))
    )


def tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: learn the first ``BPE_MERGES``
    byte-pair merges over the corpus vocabulary — the vocabulary-
    construction step of every modern tokenizer (Sennrich et al. 2016),
    run as Spark aggregations instead of a single-machine counter.

    Spec: words = non-empty whitespace tokens of lowercased text,
    weighted by corpus frequency; each step counts ADJACENT symbol pairs
    over all word symbol sequences (weighted by word count), merges the
    most frequent pair (ties: lexicographically smallest), and rewrites
    the sequences.  Output: one row per learned merge
    (step, left, right, merged, pair_count).

    Distribution shape: the expensive part of each step — the pair-count
    aggregation over the vocabulary — is a map-side explode + shuffle on
    (l, r); the argmax is TakeOrderedAndProject and lands on the driver
    as ONE row per step (the merge decision is globally sequential by
    definition — that single-row sync point is the algorithm, not a
    bottleneck; everything corpus-scale stays distributed).  Sequence
    rewriting is a LITERAL string replace (JVM codegen) — the sentinel
    encoding makes boundary-safe literal replace possible, avoiding the
    serialized-flat regexp path (BENCH.md round-3 lesson).  Each step
    re-persists the vocabulary-scale frame and unpersists its parent.

    The corpus enters EXACTLY ONCE: training runs over the distinct-word
    histogram (``_bpe_histogram``, localCheckpoint-truncated lineage),
    so every per-step job — all 50k of them for a production vocabulary
    — reads the vocabulary-scale cached frame, never ``documents``
    (plan-pinned by tests/test_text_ops.py).  This is exactly how
    HF/sentencepiece trainers scale BPE: merge decisions depend only on
    (word, count), so the histogram is a sufficient statistic.

    The DuckDB oracle unrolls all ``BPE_MERGES`` steps as chained CTEs
    with scalar argmax subqueries — a full independent replay of the
    training loop.  Precondition (holds for any natural-language corpus,
    documented rather than handled): the corpus admits at least
    BPE_MERGES merges; both engines would otherwise diverge on the
    empty-argmax step.
    """
    prev = _bpe_histogram(spark, sf_dir)
    merges: list[tuple] = []
    for step in range(1, BPE_MERGES + 1):
        best = (
            _bpe_pair_counts(prev)
            .orderBy(F.desc("pc"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # corpus exhausted (see precondition)
            break
        b = best[0]
        merged = _bpe_strip(b["l"]) + _bpe_strip(b["r"])
        merges.append(
            (step, _bpe_strip(b["l"]), _bpe_strip(b["r"]), merged, b["pc"])
        )
        # localCheckpoint per step: one materialization (same as the old
        # persist+count) AND lineage truncation, so a 50k-merge run's
        # plans stay one step deep instead of accreting 50k rewrites.
        nxt = prev.select(
            "word",
            "cnt",
            F.replace(
                "seq",
                F.lit(b["l"] + "  " + b["r"]),
                F.lit(_BPE_S1 + merged + _BPE_S2),
            ).alias("seq"),
        ).localCheckpoint(eager=True)
        prev.unpersist()
        prev = nxt
    prev.unpersist()
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count long"
    )


def text_token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` variant of ``text_token_count`` — the zero-pandas
    Arrow path: batches arrive as ``pyarrow.RecordBatch`` and every
    statistic is a pyarrow.compute kernel (utf8_length, split_pattern,
    list_value_length, integer arithmetic), with no pandas conversion on
    either side of the boundary.  This is the documented swap-in for
    pandas-UDF stages whose cost is the Arrow↔pandas transfer itself
    (SURVEY §7.1 watch list) — completing the engine's Python API
    surface: scalar pandas UDF, GROUPED_AGG, grouped/cogrouped
    applyInPandas, mapInPandas, UDTF, and now
    mapInArrow.

    Identical spec to ``text_token_count`` (same oracle SQL; an equality
    test pins the two implementations against each other), same scale
    shape: embarrassingly parallel, no shuffle.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    from collections.abc import Iterator as _It  # noqa: PLC0415

    def stats(batches: _It["pa.RecordBatch"]) -> _It["pa.RecordBatch"]:
        for batch in batches:
            text_arr = batch.column("text")
            n_chars = pc.utf8_length(text_arr)
            n_tok = pc.list_value_length(
                pc.split_pattern(pc.utf8_lower(text_arr), " ")
            )
            bpe = pc.divide(
                pc.add(pc.cast(n_chars, pa.int64()), 3), 4
            )  # ceil(chars/4) on non-negative ints
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(n_tok, pa.int32()),
                    pc.cast(bpe, pa.int64()),
                    pc.cast(n_chars, pa.int32()),
                ],
                names=[
                    "doc_id", "n_tokens_ws", "n_tokens_bpe_est", "n_chars_actual"
                ],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        stats,
        "doc_id long, n_tokens_ws int, n_tokens_bpe_est long, n_chars_actual int",
    )


DECON_MOD = 11


def decontaminate_grams(docs: DataFrame, mod: int = DECON_MOD) -> DataFrame:
    """Core of ``corpus_decontaminate_ngrams`` over an arbitrary documents
    frame — factored out so property tests can plant contamination."""
    toks = _ws_tokens(F.col("text"))
    n = F.size(toks)
    grams = F.when(
        n >= NGRAM_SPAN,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(NGRAM_SPAN - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, NGRAM_SPAN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.explode(grams).alias("gram"))
    bench = (
        g.where(F.col("doc_id") % mod == 0).select("gram").distinct()
    )
    train = g.where(F.col("doc_id") % mod != 0)
    hits = train.join(F.broadcast(bench), "gram")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("gram").alias("n_grams_hit"),
        F.count("*").alias("n_gram_occurrences"),
    )


def corpus_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that shares
    at least one whitespace 8-gram with the held-out benchmark subset —
    the eval-leakage hygiene pass every frontier training corpus runs
    (GPT-3 appendix C uses 13-gram overlap; Llama / FineWeb run the same
    sliding-n-gram containment check against eval suites).  The benchmark
    set here is the deterministic ``doc_id % DECON_MOD == 0`` slice so
    both engines derive it identically; in production it is the external
    eval corpus.

    Returns one row per CONTAMINATED training doc: (doc_id, n_grams_hit =
    distinct leaked grams, n_gram_occurrences = total leaked windows).

    Spark shape: tokens → ``transform(sequence(...))`` sliding windows →
    explode (the dedup_repeated_ngrams builder), then a BROADCAST inner
    join against the distinct benchmark grams — the benchmark side is
    small by construction (eval suites are ~10^5 grams even when the
    training corpus is 100 TB), so the training-side scan never shuffles:
    the only exchange is the survivor-scale per-doc aggregate.  The
    single-pass countDistinct+count agg is safe here (unlike the
    repeated-ngrams full-corpus agg) because it runs AFTER the broadcast
    join has reduced cardinality to actual leak windows.  At 100 TB the
    gram string is xxhash64-compressed exactly as in
    dedup_repeated_ngrams_hashed; string form kept at oracle scale for
    readability.

    Reference parity: the reference loader has no decontamination stage
    (StixToNeoDB.scala is a pure loader); this extends the training-data
    tier per the builder brief.
    """
    return decontaminate_grams(
        load_table(spark, sf_dir, "documents"), DECON_MOD
    )


def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, 'Scaling
    Language Models: ... Gopher', table A1 repetition filters): per doc,
    the fraction of tokens taken by the single most frequent token, the
    duplicate-2-gram fraction, and the distinct-token ratio — the
    filters that kill boilerplate/spam before training.  All ratios ride
    as integer ppm (truncating division) so the cross-engine value hash
    is float-free.

    Returns (doc_id, n_tokens, top_token_ppm, dup_2gram_ppm,
    distinct_ratio_ppm); docs shorter than 2 tokens report 0 for the
    2-gram signal (no windows) rather than null.

    Plan: one explode for unigram counts (two-level agg: (doc, token)
    partial then per-doc max/sum/countDistinct shapes collapse map-side),
    one lead-window-free 2-gram pass via the transform(sequence(...))
    builder — all JVM built-ins, shuffles keyed doc_id, embarrassingly
    parallel at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    uni = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_c"),
            F.count("*").alias("n_distinct"),
        )
    )
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_2grams"),
            F.sum(F.col("c") - F.lit(1)).alias("dup_2grams"),
        )
    )
    return (
        uni.join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.expr("top_c * 1000000 div n_tokens").alias("top_token_ppm"),
            F.coalesce(
                F.expr("dup_2grams * 1000000 div n_2grams"), F.lit(0)
            ).cast("long").alias("dup_2gram_ppm"),
            F.expr("n_distinct * 1000000 div n_tokens").alias(
                "distinct_ratio_ppm"
            ),
        )
    )


FH_BUCKETS = 64


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, 'Feature
    Hashing for Large Scale Multitask Learning'): each token maps to
    bucket md5(token)[:8] mod FH_BUCKETS and the per-doc bucket counts
    ARE the fixed-width sparse feature vector — the vocabulary-free
    featurizer for corpus-scale classifiers (no dictionary to build,
    broadcast, or version).

    md5-derived buckets are the repo's portable-hash convention (same
    conv(substr(md5,1,8)) ↔ ('0x'||substr)::BIGINT pair as the
    dedup/sampling operators), so the DuckDB oracle replays the exact
    bucket assignment.  One explode + one (doc, bucket) aggregate that
    collapses map-side; output rows bounded by docs × FH_BUCKETS.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(_ws_tokens(F.col("text"))).alias("token")
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long"),
        F.lit(FH_BUCKETS),
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


PACK_LEN = 256


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    batching op (documents concatenated in deterministic order, sliced
    into fixed PACK_LEN-token context windows; a document starts in the
    pack where its running offset lands and may straddle into the
    next).  Per-language streams pack independently (the per-shard
    reality of multilingual training), so the running sum is a
    PARTITIONED window, not a global one.

    Output: (doc_id, lang, n_tokens, pack_id, offset_in_pack) where
    pack_id = floor(start_offset / PACK_LEN) within the language and
    offset_in_pack = start_offset mod PACK_LEN.

    Scale shape: one lang-keyed sort window (the same partitioning every
    per-language operator shares).  For a SINGLE giant stream the
    running sum decomposes into the two-pass per-bucket prefix-sum the
    concurrency/sorted-neighborhood operators already use — that swap
    is the documented 100-TB path; integer arithmetic throughout.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "lang", n_tok.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    start = F.col("cum") - F.col("n_tokens")
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {PACK_LEN}").alias("pack_id"),
        F.pmod(start, F.lit(PACK_LEN)).cast("long").alias("offset_in_pack"),
    )


def corpus_language_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language sampling weights (the multilingual
    rebalancing rule of XLM-R / mT5: p_l ∝ n_l^alpha with alpha=0.5 —
    upweight tail languages, damp the head).  n^0.5 rides as the
    INTEGER isqrt floor(sqrt(n)) so the cross-engine hash never sees a
    float: weight_ppm = isqrt(n_l) * 1e6 div Σ isqrt(n_k).

    One tiny two-level aggregate (per-language counts, then the
    broadcast 1-row total); the output is |languages| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(F.count("*").alias("n_docs")).withColumn(
        "isqrt_n", F.floor(F.sqrt(F.col("n_docs"))).cast("long")
    )
    tot = per.agg(F.sum("isqrt_n").alias("tot"))
    return per.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "isqrt_n",
        F.expr("isqrt_n * 1000000 div tot").alias("weight_ppm"),
    )


CMS_D = 4    # hash rows
CMS_W = 32   # buckets per row


def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus
    token stream, plus its point-query readout: for every distinct
    token, the true count and the CMS estimate min_d cells[d][h_d(tok)]
    — the mergeable frequency sketch that answers 'how often is X' in
    CMS_D×CMS_W integers regardless of corpus size (the companion to
    the Misra-Gries top-k sketch already in the engine: MG bounds WHO
    is frequent, CMS bounds HOW OFTEN for any item).

    Hashes are the repo's portable md5-bucket convention
    (row d's bucket = md5(d || ':' || token) first 8 hex digits mod W),
    so DuckDB rebuilds the identical sketch.  The sketch build is ONE
    map-side-combinable (d, bucket) aggregate over the exploded stream
    (CMS_D rows per token occurrence); cells merge across
    shards/batches by plain addition — the mergeability the property
    test pins.  Estimates are exact integers; CMS guarantees
    estimate >= truth, with overestimates only from bucket collisions
    (W=32 forces visible collisions at fixture scale — non-vacuous).

    Output: (token, n_true, n_cms) for every distinct token.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_ws_tokens(F.col("text"))).alias("token"))
    rows = toks.crossJoin(
        spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    ).select(
        "token",
        "d",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("token"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(CMS_W),
        ).alias("bucket"),
    )
    cells = rows.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    truth = toks.groupBy("token").agg(F.count("*").alias("n_true"))
    probes = truth.crossJoin(
        spark.range(CMS_D).select(F.col("id").cast("int").alias("d"))
    ).select(
        "token",
        "n_true",
        "d",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("token"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(CMS_W),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "n_true")
        .agg(F.min("c").alias("n_cms"))
    )


CHUNK_LEN = 200     # characters per chunk
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window document chunking — the RAG / long-context
    preprocessing op (slice every document into CHUNK_LEN-char windows at
    CHUNK_STRIDE, so consecutive chunks overlap by CHUNK_LEN-CHUNK_STRIDE
    chars and no suffix is dropped).  The chunk CONTENT is verified
    without shipping it: each chunk rides as its md5, so a one-character
    slicing bug anywhere breaks the cross-engine hash.

    Output: (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5) —
    chunk_start is 0-based, chunk_len is the actual (tail may be short).

    Scale shape: pure map-side codegen (sequence + posexplode +
    substring + md5) — no shuffle, no Python; fan-out is bounded by
    len/stride per row, so task memory is flat.  At 100 TB this runs at
    scan speed and the output partitioning inherits the input's.
    """
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length("text") - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    c = d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "chunk_start"))
    chunk = F.substring(F.col("text"), F.col("chunk_start") + 1, F.lit(CHUNK_LEN))
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# Scrub patterns: RE2-safe subset (no backrefs / lookaround) so Java
# regex (Spark) and RE2 (DuckDB) agree token-for-token.  Application
# order matters and is fixed: URL → EMAIL → DIGITRUN.
PII_URL_RE = r"https?://[^ ]+"
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
PII_DIGITS_RE = r"[0-9][0-9][0-9][0-9][0-9][0-9]+"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training-data pipeline runs
    before anything ships: URLs, emails, and long digit runs (ids, phone
    numbers) replaced by typed placeholder tokens, with per-document
    match counts for the audit trail.

    The synthetic corpus carries no PII, so the operator plants a
    deterministic doc_id-derived contact line first (same expression in
    the oracle) — the regexes then do real extraction work and the
    scrubbed text is verified by md5, not trusted.

    Cross-engine notes: patterns are the RE2-safe subset (bounded
    constructs only — Java and RE2 agree on greedy leftmost matching for
    this class); counts via regexp_count (Spark) = len(regexp_extract_all)
    (DuckDB); replacement is global on both engines (Spark default,
    DuckDB 'g' flag).

    Scale shape: map-side regex codegen per row, zero shuffle.  Regex
    throughput is the known serialized hazard on this host (SURVEY §4.2:
    the JVM regex path measured ~0.6M rows/s flat) — this operator is a
    per-document audit pass, not a hot inner loop; at 100 TB shard it by
    input split and it scales with executors, not cores-per-JVM.
    """
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id"),
        F.lit("@ex"),
        F.pmod(F.col("doc_id"), F.lit(7)),
        F.lit(".com via https://h"),
        F.pmod(F.col("doc_id"), F.lit(5)),
        F.lit(".example/p"),
        F.col("doc_id"),
        F.lit(" ref 90210"),
        F.col("doc_id"),
    )
    t = d.select("doc_id", planted.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_URL_RE, "<URL>"),
            PII_EMAIL_RE,
            "<EMAIL>",
        ),
        PII_DIGITS_RE,
        "<NUM>",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(
            F.regexp_replace(F.col("t"), PII_URL_RE, "<URL>"), F.lit(PII_EMAIL_RE)
        ).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(
                F.regexp_replace(F.col("t"), PII_URL_RE, "<URL>"),
                PII_EMAIL_RE,
                "<EMAIL>",
            ),
            F.lit(PII_DIGITS_RE),
        ).cast("long").alias("n_digit_runs"),
        F.md5(scrubbed).alias("scrub_md5"),
    )


def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE tokenizer at corpus scale — the encode half
    of the tokenizer pair (``tokenizer_bpe_merges`` learns the merge
    table; this op tokenizes every vocabulary word with it).  Training
    runs first (same spec, driver-resident 10-row merge table), then
    encoding is ONE plan: the merge table unrolls into a chain of
    BPE_MERGES literal sentinel-safe replaces over the wrapped symbol
    sequence — whole-stage codegen end to end, no per-step persist or
    collect (the trainer needs per-step argmax barriers; the encoder
    does not — merge DECISIONS are sequential, merge APPLICATION is a
    fixed program).

    Output: (word, cnt, n_symbols, encoding) — encoding is the final
    symbol sequence joined by spaces; concatenating its symbols always
    reproduces the word (BPE losslessness, pinned by test).

    Cross-engine: the DuckDB oracle replays the FULL training chain
    (shared CTE builder with the trainer oracle) and reads the final
    vocabulary state w{BPE_MERGES} — i.e. the two engines arrive at the
    encoding by different routes (Spark: learned table re-applied as a
    replace program; DuckDB: the training rewrite states themselves),
    so a drift in either the learned merges or their application breaks
    the hash.

    Scale shape: encoding distinct WORDS, not word occurrences — the
    vocabulary-scale frame is the Zipf-collapsed input the whole
    canonicalization stack already rides; per-document token ids would
    be one broadcast join away (the merge program output is a
    vocabulary-sized dict).  At 100 TB the replace chain stays map-side
    over whatever partitioning the scan yields.
    """
    merges = sorted(
        tokenizer_bpe_merges(spark, sf_dir).collect(), key=lambda r: r["step"]
    )
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_ws_tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    seq = F.expr(
        f"rtrim(regexp_replace(word, '([\\\\s\\\\S])', '{_BPE_S1}$1{_BPE_S2}  '))"
    )
    for m in merges:
        seq = F.replace(
            seq,
            F.lit(f"{_BPE_S1}{m['left']}{_BPE_S2}  {_BPE_S1}{m['right']}{_BPE_S2}"),
            F.lit(f"{_BPE_S1}{m['merged']}{_BPE_S2}"),
        )
    toks = F.split(seq, "  ")
    strip = lambda t: F.replace(  # noqa: E731 — mirrors _bpe_strip, column form
        F.replace(t, F.lit(_BPE_S1), F.lit("")), F.lit(_BPE_S2), F.lit("")
    )
    return words.select(
        "word",
        "cnt",
        F.size(toks).cast("long").alias("n_symbols"),
        F.array_join(F.transform(toks, strip), " ").alias("encoding"),
    )


MH_OVERLAP_SLOTS = 32


def corpus_overlap_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap estimation — the planning pass before
    any cross-corpus dedup: for every source pair, the EXACT token-set
    Jaccard next to its K-slot MinHash estimate (fraction of slots whose
    per-source minimum hash agrees).  At real scale only the estimate is
    computable (per-source K-row signatures vs an all-pairs token
    intersection); the fixture is small enough to carry both, so the
    oracle verifies estimator and truth together and the estimator's
    machinery (md5 slot hashing, per-source mins, slot agreement) is
    hash-checked end to end.

    Scale shape: signatures are ONE map-side-combined (source, slot) min
    aggregate — |sources|·K rows out of any corpus size; the pair stage
    is signature-scale.  The exact tier (distinct tokens, pair
    intersection) is the audit-scale path only.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(_ws_tokens(F.col("text"))).alias("token"))
        .where(F.length("token") > 0)
        .distinct()
    )
    sizes = toks.groupBy("source").agg(F.count("*").alias("n_tok"))
    inter = (
        toks.alias("a")
        .join(toks.alias("b"), "token")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    slots = spark.range(MH_OVERLAP_SLOTS).select(F.col("id").cast("int").alias("slot"))
    sig = (
        toks.crossJoin(F.broadcast(slots))
        .groupBy("source", "slot")
        .agg(
            F.min(
                F.md5(F.concat(F.lit("mh:"), F.col("slot"), F.lit(":"), F.col("token")))
            ).alias("mh")
        )
    )
    est = (
        sig.alias("x")
        .join(sig.alias("y"), "slot")
        .where(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(
            F.sum(
                (F.col("x.mh") == F.col("y.mh")).cast("long")
            ).alias("n_agree")
        )
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_tok").alias("nb"))
    # est covers EVERY pair (signatures exist for all sources); inter only
    # pairs with nonzero overlap — left-join so disjoint pairs report 0,
    # which is exactly what the planning pass needs to see
    return (
        est.join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.expr("n_inter * 1000000 div (na + nb - n_inter)").alias(
                "exact_jaccard_ppm"
            ),
            F.expr(f"n_agree * 1000000 div {MH_OVERLAP_SLOTS}").alias(
                "est_jaccard_ppm"
            ),
        )
    )


def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization pass behind URL-level
    dedup of web corpora: lowercase the scheme/host/path, drop the
    fragment, drop utm_* tracking parameters, and SORT the surviving
    query parameters so equivalent URLs collide.  (Lowercasing the path
    is a deliberate policy choice of this canonicalizer, documented —
    strict RFC 3986 keeps path case; corpus dedup wants the collision.)

    The fixture corpus carries no URLs, so a deterministic doc_id-derived
    URL is planted with mixed case, tracking params, unsorted keys and a
    fragment (same expression in the oracle); the canonical result is
    verified by md5 — any slicing/sorting/filtering drift breaks the
    hash.

    Scale shape: pure map-side string/array codegen (split + filter +
    array_sort + join), zero shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Ex"),
        F.pmod(F.col("doc_id"), F.lit(5)),
        F.lit(".COM/Path/"),
        F.col("doc_id"),
        F.lit("?zeta=9&utm_source=feed&Id="),
        F.col("doc_id"),
        F.lit("&utm_campaign=x&alpha=1#Frag"),
    )
    t = d.select("doc_id", url.alias("url"))
    no_frag = F.split(F.col("url"), "#").getItem(0)
    base = F.lower(F.split(no_frag, r"\?").getItem(0))
    query = F.split(no_frag, r"\?").getItem(1)
    params = F.split(query, "&")
    kept = F.array_sort(
        F.filter(params, lambda p: ~p.startswith("utm_"))
    )
    canon = F.concat_ws("?", base, F.array_join(kept, "&"))
    return t.select(
        "doc_id",
        (F.size(params) - F.size(kept)).cast("long").alias("n_params_dropped"),
        F.md5(canon).alias("canon_md5"),
    )


RAKE_TOP_K = 3


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — top candidate
    phrases per document: split each document into maximal stopword-free
    token runs (candidate phrases), score words by degree/frequency over
    the whole corpus, score a phrase by the sum of its member word
    scores, keep the top RAKE_TOP_K phrases per document.

    Decompositions (all published patterns this repo already exercises,
    composed): phrase boundaries are GAPS-AND-ISLANDS (running sum of
    stopword flags over the token position window — the SCD2 trick);
    deg(w) = Σ_{occurrences of w} len(phrase) and freq(w) are one
    two-level aggregate; word_score = deg·1e6 div freq (truncating ppm);
    phrase_score = Σ member word scores (exact integer sum of ppms);
    the per-doc top-k is a row_number window with the phrase text as the
    deterministic tie-break.

    Scale shape: tokenization/islands ride one doc-keyed window over the
    posexploded stream; word scores are vocabulary-scale and broadcast
    back; the top-k window is per-doc.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(_ws_tokens(F.col("text"))).alias("pos", "token")
    ).withColumn(
        "is_stop", F.col("token").isin(*STOPWORDS_EN).cast("int")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        toks.withColumn(
            "island",
            F.sum("is_stop").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .where(F.col("is_stop") == 0)
    )
    phrases = runs.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    occur = runs.join(
        phrases.select("doc_id", "island", "plen"), ["doc_id", "island"]
    )
    wscore = (
        occur.groupBy("token")
        .agg(F.sum("plen").alias("deg"), F.count("*").alias("freq"))
        .select("token", F.expr("deg * 1000000 div freq").alias("wscore"))
    )
    pscore = (
        occur.join(F.broadcast(wscore), "token")
        .groupBy("doc_id", "island")
        .agg(F.sum("wscore").alias("phrase_score"))
        .join(phrases.select("doc_id", "island", "phrase"), ["doc_id", "island"])
    )
    topw = Window.partitionBy("doc_id").orderBy(
        F.desc("phrase_score"), F.asc("phrase")
    )
    return (
        pscore.withColumn("rk", F.row_number().over(topw))
        .where(F.col("rk") <= RAKE_TOP_K)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rank"),
            "phrase",
            "phrase_score",
        )
    )


BUDGET_SHARE_PPM = 600_000  # keep the best ~60% of corpus tokens


def corpus_select_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy corpus selection to a token budget — the final curation
    cut: rank documents by priority (here: token count DESC, a stand-in
    for any score; doc_id tie-break) and keep documents while the
    running token total stays within the budget (BUDGET_SHARE_PPM of the
    corpus total, data-derived).  The strict keep-while-cum≤B rule is a
    pure integer decision, so both engines cut at the same document.

    Output: the kept documents with their running totals — the audit
    trail for "why is doc X in/out".

    Scale shape: token counts are map-side; the budget is one broadcast
    1-row aggregate; the ranked running sum is a global window at audit
    scale — the documented 100-TB swap is the repo's two-pass bucketed
    prefix sum (range-partition by priority key, partition-local cumsum
    + bucket-total carry, as events_max_concurrency does).
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(_ws_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    tot = t.agg(
        F.expr(f"sum(n_tokens) * {BUDGET_SHARE_PPM} div 1000000").alias("budget")
    )
    w = (
        Window.orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .join(F.broadcast(tot))
        .where(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "n_tokens", "cum_tokens")
    )


# -- round-4 seventh-continuation: containment + mixture order --------------

CONT_MIN_PPM = 100000   # emit pairs with >=10% shingle containment
MIX_WEIGHTS = {"en": 12, "fr": 20, "de": 30}  # stride = LCM(60)/w: w=5,3,2
MIX_STRIDE_DEFAULT = 60                        # weight 1 for all other langs
MIX_TAKE_N = 100


def text_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    over distinct word-3-grams — the quote/subset detector that Jaccard
    misses: a short document fully contained in a long one has high
    containment but low Jaccard (dedup_ngram_jaccard's 0.8 floor never
    fires).  Pure integer ppm readout.

    Scale shape: pairs materialize from the shared-shingle join at
    co-occurrence cardinality (each shingle contributes |docs|² pairs),
    with the intersection size falling out of the SAME join as a
    groupBy count — no second pass.  At 100 TB the join key must be
    df-capped exactly like the canonicalizer's MAX_BLOCK band guard
    (dropping boilerplate shingles bounds block size; the dropped
    shingles are the ones carrying no containment evidence), or pruned
    by the prefix-filter tier (dedup_set_similarity_prefix).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    tcol = F.col("toks")
    sh3 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(tcol) - 3),
            lambda i: F.array_join(F.slice(tcol, i + 1, 3), " "),
        )
    )
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", sh3.alias("shs"))
        .select("doc_id", F.explode("shs").alias("s"), F.size("shs").alias("n_sh"))
    )
    a = sh.select(F.col("doc_id").alias("doc_from"), "s", F.col("n_sh").alias("n_from"))
    b = sh.select(F.col("doc_id").alias("doc_to"), "s")
    return (
        a.join(b, "s")
        .where(F.col("doc_from") != F.col("doc_to"))
        .groupBy("doc_from", "doc_to", "n_from")
        .agg(F.count("*").alias("inter"))
        .select(
            "doc_from",
            "doc_to",
            F.expr("(1000000 * inter) div n_from").alias("containment_ppm"),
        )
        .where(F.col("containment_ppm") >= CONT_MIN_PPM)
    )


def corpus_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled mixture interleaving — the deterministic order
    materializer that complements corpus_language_sampling_weights: each
    language advances a virtual clock by LCM/weight per document taken
    (en 5 : fr 3 : de 2 : others 1), and the global training order is
    the merge of those clocks.  Every comparison is integer (stride
    keys), ties break (lang, doc_id) — both engines emit the identical
    first MIX_TAKE_N positions.

    Scale shape: per-language rank is a partitioned window (per-lang
    cardinality); the global take-N is TakeOrderedAndProject (O(n) scan
    + bounded heap), never a full sort.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    r = F.row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
    stride = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_WEIGHTS.items())
    ) + f" ELSE {MIX_STRIDE_DEFAULT} END"
    keyed = d.withColumn("vt", F.expr(stride) * r)
    pos = F.row_number().over(Window.orderBy("vt", "lang", "doc_id"))
    return (
        keyed.withColumn("pos", pos)
        .where(F.col("pos") <= MIX_TAKE_N)
        .select("pos", "lang", "doc_id")
    )


def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document negative log-likelihood under an add-one-smoothed
    bigram LM trained on the whole corpus — the KenLM/CCNet-style
    perplexity quality gate: boilerplate and templated spam score LOW
    (predictable), lexical soup scores HIGH, and the tails of the NLL
    distribution are what a curation pass drops.

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), where c(w1 w2) is
    the corpus bigram count (2-shingles WITH multiplicity), c(w1) the
    corpus unigram occurrence count, and V the corpus vocabulary size.
    nll = Σ ln((c(w1)+V)/(c(w1 w2)+1)) / n_bigrams, rounded to 6 dp —
    every ratio is an identical integer-ratio expression tree on both
    engines (the PMI ln precedent).

    Scale shape: token explode → ONE map-side-combined count per
    unigram and per bigram; scoring is a token-scale shuffle join on
    the bigram key (the LM tables are corpus-vocabulary scale — joined,
    not broadcast, because a web-scale bigram table outgrows the
    driver).  No Python, no windows — bigrams come from a vectorized
    transform() over the token array.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: t != F.lit(""))
    base = d.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 2)
    bigrams = base.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> struct(element_at(toks, i) as w1,"
            "             concat(element_at(toks, i), ' ',"
            "                    element_at(toks, i + 1)) as bg))"
        ).alias("bgs"),
    ).select("doc_id", F.explode("bgs").alias("b")).select(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.bg").alias("bg")
    )
    uni = base.select(F.explode("toks").alias("w1"))
    cu = uni.groupBy("w1").agg(F.count("*").alias("cu"))
    vocab = uni.select("w1").distinct().agg(F.count("*").alias("v"))
    cbg = bigrams.groupBy("bg").agg(F.count("*").alias("cbg"))
    scored = (
        bigrams.join(cbg, "bg")
        .join(cu, "w1")
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr("ln(cast(cu + v as double) / (cbg + 1))").alias("nll_term"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.expr("sum(nll_term) / count(*)"), 6).alias("nll_nats"),
    )


def text_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity profile: type-token ratio, hapax
    share, and token-level Shannon entropy — the trio that separates
    natural prose (TTR ~0.5-0.8, entropy near ln(n_types)) from
    keyword-stuffed or looped spam (low TTR, entropy collapsed onto a
    few heavy types).  Complements text_repetition_signals (which looks
    at ADJACENT repeats; this is bag-of-words global).

    ttr_ppm and hapax_ppm are exact integer divisions; entropy
    -Σ (c/n)·ln(c/n) is the identical integer-ratio ln tree on both
    engines, rounded to 6 dp.

    Scale shape: ONE token explode → per-(doc, token) count (map-side
    combined) → per-doc re-aggregate.  Both aggs share the doc_id
    shuffle key — AQE coalesces; nothing leaves token scale except the
    final per-doc rows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: t != F.lit(""))
    per_tok = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= 1)
        .select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.expr("if(c = 1, 1, 0)")).alias("n_hapax"),
            F.sum(F.expr("c * ln(cast(c as double))")).alias("sum_clnc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.expr("(1000000 * n_types) div n_tokens").alias("ttr_ppm"),
            F.expr("(1000000 * n_hapax) div n_types").alias("hapax_ppm"),
            F.round(
                F.expr("ln(cast(n_tokens as double)) - sum_clnc / n_tokens"), 6
            ).alias("token_entropy_nats"),
        )
    )


ZIPF_MIN_COUNT = 2  # rank-frequency fit ignores the hapax noise floor


def stats_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level Zipf fit: OLS of ln(freq) on ln(rank) over the
    token frequency table — natural corpora land near slope −1; a
    far-off slope is the classic synthetic/corrupted-corpus smell
    test (and the sampling-weight input for corpus_language_sampling
    style temperature schedules).

    Ranks are exact integers (freq desc, token asc tie-break —
    deterministic on both engines); the OLS moments are double sums of
    identical ln expression trees, and slope/intercept/r² round to
    6 dp.  Tokens below ZIPF_MIN_COUNT are excluded (the hapax shelf
    flattens the fit; standard practice).

    Scale shape: token explode → ONE map-side-combined count; the
    rank window and 6-term moment agg run at vocabulary scale.  The
    single-partition rank window is the documented scale ceiling —
    at web vocabulary (1e8 types) swap to a two-pass range-partitioned
    rank; the moments stay one agg either way.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: t != F.lit(""))
    freq = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= ZIPF_MIN_COUNT)
    )
    ranked = freq.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    ).select(
        F.expr("ln(cast(rk as double))").alias("x"),
        F.expr("ln(cast(c as double))").alias("y"),
    )
    m = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    # nullif guards: a single-type vocabulary (den=0) or an all-equal
    # frequency shelf (syy variance 0) emit NULL, not an ANSI error
    den = "nullif(n * sxx - sx * sx, 0.0)"
    num_b = "(n * sxy - sx * sy)"
    return m.select(
        "n",
        F.round(F.expr(f"{num_b} / {den}"), 6).alias("slope"),
        F.round(F.expr(f"(sy * sxx - sx * sxy) / {den}"), 6).alias("intercept"),
        F.round(
            F.expr(f"({num_b} * {num_b}) / nullif({den} * (n * syy - sy * sy), 0.0)"),
            6,
        ).alias("r2"),
    )


def stats_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (nats) between every pair of sources'
    token distributions — the bounded, symmetric corpus-drift measure
    (KL diverges on disjoint support; JSD ≤ ln 2 always), the standard
    gate for 'did this crawl snapshot shift' before mixing sources.

    JSD = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)) with p = ca/na,
    q = cb/nb; every ln argument is the integer-ratio tree
    2·ca·nb / (ca·nb + cb·na) — exact int64 inside, identical on both
    engines, rounded to 6 dp outside (the PMI ln precedent).  Tokens
    missing from one side contribute p·ln 2 exactly (q = 0) — JSD
    needs no smoothing.

    Scale shape: ONE token explode → map-side-combined (source, token)
    count; the sources² pair grid broadcasts against the streaming
    count table (the stats_mann_whitney_u shape), and the JSD sum runs
    at pair×vocab summary scale.  int64 bound: ca·nb ≤ n² — decimal
    swap past ~3e9 tokens per source.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: t != F.lit(""))
    c = (
        d.select(F.col("source").alias("s"), F.explode(toks).alias("tok"))
        .groupBy("s", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = c.groupBy("s").agg(F.sum("c").alias("n"))
    pairs = tot.select(F.col("s").alias("sa"), F.col("n").alias("na")).join(
        tot.select(F.col("s").alias("sb"), F.col("n").alias("nb")),
        F.col("sa") < F.col("sb"),
    )
    sides = c.join(
        F.broadcast(pairs),
        (F.col("s") == F.col("sa")) | (F.col("s") == F.col("sb")),
    )
    grid = sides.groupBy("sa", "sb", "na", "nb", "tok").agg(
        F.sum(F.expr("if(s = sa, c, 0)")).alias("ca"),
        F.sum(F.expr("if(s = sb, c, 0)")).alias("cb"),
    )
    term = (
        "if(ca > 0, (cast(ca as double) / na)"
        " * ln(2.0 * ca * nb / (cast(ca as double) * nb + cast(cb as double) * na)), 0.0)"
        " + if(cb > 0, (cast(cb as double) / nb)"
        " * ln(2.0 * cb * na / (cast(ca as double) * nb + cast(cb as double) * na)), 0.0)"
    )
    return grid.groupBy("sa", "sb").agg(
        F.count("*").alias("n_union_tokens"),
        F.round(F.expr(f"0.5 * sum({term})"), 6).alias("jsd_nats"),
    )


NOVELTY_SHINGLE = 3  # token width of the novelty shingles


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty curve: the share of a document's DISTINCT
    3-token shingles that no earlier document (lower doc_id = earlier
    in the stream) has emitted — the marginal-information signal a
    curriculum/dedup auditor reads to find where a crawl stops adding
    content (novelty collapsing toward 0 = the corpus is saturating).

    novelty_ppm = 1e6 · |{sh : first_seen(sh) = doc_id}| div n_shingles
    — pure integer; first_seen is min(doc_id) per shingle.

    Scale shape: shingle explode → map-side-combined min(doc_id) per
    shingle → shuffle join back on the shingle key → per-doc count.
    Everything keys on the shingle hash; no window, no driver state.
    In production the shingle column would be xxhash64-compressed
    before the shuffle (byte volume, not semantics).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(_ws_tokens(F.col("text")), lambda t: t != F.lit(""))
    w = NOVELTY_SHINGLE
    sh = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= w)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {w - 1}),"
                        f" i -> concat_ws(' ', slice(toks, i, {w})))"
                    )
                )
            ).alias("sh"),
        )
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.expr("if(first_doc = doc_id, 1, 0)")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            F.expr("(1000000 * n_novel) div n_shingles").alias("novelty_ppm"),
        )
    )


def tokenizer_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer health readout: the occurrence-weighted fertility
    histogram of the trained BPE encoder — how many subword symbols
    each corpus word occurrence costs.  Fertility creeping up is THE
    signal a tokenizer has drifted off its corpus (symbols/word ≈
    compute/word at training time); the histogram shape localizes it
    (head words staying 1-symbol vs tail words fragmenting).

    One row per symbol count: how many distinct words and word
    OCCURRENCES encode to that many symbols, and the occurrence share
    in exact integer ppm.

    Scale shape: rides tokenizer_bpe_encode's vocabulary-scale plan
    (distinct words, Zipf-collapsed); the histogram is one further
    map-side-combined agg at symbol-count scale, the total joins back
    broadcast.
    """
    enc = tokenizer_bpe_encode(spark, sf_dir)
    hist = enc.groupBy("n_symbols").agg(
        F.count("*").alias("n_words"),
        F.sum("cnt").alias("n_occurrences"),
    )
    tot = hist.agg(F.sum("n_occurrences").alias("t"))
    return hist.join(F.broadcast(tot)).select(
        "n_symbols",
        "n_words",
        "n_occurrences",
        F.expr("(1000000 * n_occurrences) div t").alias("occ_share_ppm"),
    )


# Classic Soundex, spec pinned for both engines: keep the first letter;
# H/W are transparent (removed before coding, EXCEPT a leading H/W which
# survives as the letter); vowels AEIOUY code to '0' and act as
# separators; B F P V→1, C G J K Q S X Z→2, D T→3, L→4, M N→5, R→6;
# adjacent equal codes collapse (including across the kept first
# letter); zeros drop; pad/truncate to letter + 3 digits.
_SOUNDEX_FROM = "AEIOUYBFPVCGJKQSXZDTLMNR"
_SOUNDEX_TO = "000000111122222222334556"


def _soundex_sql_expr(col: str) -> str:
    """The shared Soundex expression (Spark SQL == DuckDB SQL: upper,
    translate, fixed-pass adjacent-duplicate collapse — replace() is
    left-to-right non-overlapping in both engines; 3 passes cover runs
    to length 8, beyond any real word)."""
    digits = f"translate(translate(upper({col}), 'HW', ''), '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}')"
    for _ in range(3):
        for d in "0123456":
            digits = f"replace({digits}, '{d}{d}', '{d}')"
    # drop the first letter's own (collapsed) code group BEFORE stripping
    # the vowel zeros — a vowel first letter codes to 0 and would already
    # be gone, silently eating the next consonant's code instead.  A
    # leading H/W was removed by the HW-translate: nothing to drop.
    tail = (
        f"if(substring(upper({col}), 1, 1) in ('H', 'W'), "
        f"replace({digits}, '0', ''), replace(substring({digits}, 2), '0', ''))"
    )
    return f"concat(substring(upper({col}), 1, 1), rpad(substring({tail}, 1, 3), 3, '0'))"


def er_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: classic Soundex over the
    corpus's alphabetic vocabulary, emitting every block with its
    spelling stats and a `collides` flag (≥2 distinct spellings = a
    candidate pair to adjudicate) — the candidate-pair generator that
    catches 'smith/smyth' misspellings Levenshtein blocking only finds
    by brute force (reference analogue: the loader's MERGE-by-id has no
    fuzzy layer; this is the scale-path upgrade, StixToNeoDB README.md:75).

    Pure string engine both sides — upper/translate/replace/rpad chains,
    zero floats, zero UDFs (the collapse is a fixed 3-pass replace
    program, whole-stage codegen).  Output per colliding block: code,
    distinct-spelling count, total occurrences, and the lexicographic
    min/max spellings as the audit sample.

    Scale shape: vocabulary-scale frame (distinct alpha tokens) → ONE
    map-side-combined agg on the 4-char code key.  No skew risk: code
    space is 26×7³.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(_ws_tokens(F.col("text"))).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    coded = words.withColumn("code", F.expr(_soundex_sql_expr("w")))
    return (
        coded.groupBy("code")
        .agg(
            F.countDistinct("w").alias("n_spellings"),
            F.sum("cnt").alias("n_occurrences"),
            F.min("w").alias("spelling_min"),
            F.max("w").alias("spelling_max"),
        )
        .withColumn("collides", F.col("n_spellings") >= 2)
    )


# -- round-4 eighth-continuation: readability --------------------------------

def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source — the classic readability
    gate an LLM-corpus curation pass runs next to text_quality_score.

    Per doc: words = single-space tokens (the text_token_count spec),
    sentences = max(1, count of [.!?]+ runs), syllables = count of
    [aeiouy]+ vowel runs (the standard heuristic).  The score is held
    in EXACT milli-units with spec'd integer division:
    fre_milli = 206835 − (1015·W) div S − (84600·Syl) div W, so the
    per-source means are integer-reproducible in any engine.

    Scale shape: three regexp counters per row (codegen, no UDF), then
    one map-side-combined agg to |sources| rows — scan-bound at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long")
        ).alias("s"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long").alias("syl"),
    ).where(F.col("w") > 0)
    scored = scored.withColumn(
        "fre_milli",
        F.expr("206835 - (1015 * w) div s - (84600 * syl) div w"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("sum(fre_milli) div count(*)").alias("mean_fre_milli"),
        F.min("fre_milli").alias("min_fre_milli"),
        F.max("fre_milli").alias("max_fre_milli"),
        F.expr("(1000 * sum(syl)) div sum(w)").alias("syll_per_kword"),
    )


# -- round-4 eighth-continuation: vocab coverage -----------------------------

VOCAB_DIV = 3  # vocab size = distinct-word count div 3 + 1 (data-derived)


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage / OOV audit per language: build the top-V
    frequency vocabulary over the whole corpus (V data-derived so the
    readout stays partial at any scale), then report per language the
    share of TOKEN occurrences covered and the share of distinct TYPES
    covered — the first thing to check before freezing a tokenizer on a
    multilingual corpus (high token coverage with low type coverage =
    a long OOV tail the fertility histogram will pay for).

    Vocabulary rank ties break on the word itself, so the cut is
    deterministic; coverage is exact ppm.

    Distribution: word counts are one map-side-combined shuffle; the
    vocabulary is a broadcast top-V (ranked window over |vocab| rows);
    the per-lang readout is a broadcast semi-join + one agg — corpus
    scan dominates at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(_ws_tokens(F.col("text"))).alias("w"))
    global_freq = words.groupBy("w").agg(F.count("*").alias("freq"))
    n_distinct = global_freq.count()
    v_size = n_distinct // VOCAB_DIV + 1
    wr = Window.orderBy(F.desc("freq"), "w")
    vocab = (
        global_freq.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= v_size)
        .select("w")
        .withColumn("in_vocab", F.lit(1))
    )
    marked = words.join(F.broadcast(vocab), "w", "left")
    tok = marked.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.coalesce("in_vocab", F.lit(0))).alias("n_covered"),
    )
    typ = (
        marked.select("lang", "w", "in_vocab")
        .distinct()
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_types"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).alias("n_types_covered"),
        )
    )
    return (
        tok.join(typ, "lang")
        .select(
            "lang",
            "n_tokens",
            "n_covered",
            F.expr("(1000000 * n_covered) div n_tokens").alias("token_coverage_ppm"),
            "n_types",
            "n_types_covered",
            F.expr("(1000000 * n_types_covered) div n_types").alias(
                "type_coverage_ppm"
            ),
        )
    )


# -- round-4 eighth-continuation: Gopher-style filter cascade ----------------

GOPHER_W_MIN, GOPHER_W_MAX = 5, 1000      # word-count bounds
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 2, 12    # mean word length bounds
GOPHER_SYM_DECI = 1                       # >10% non-[a-z ] chars
GOPHER_TOPW_MULT = 5                      # top word > 20% of tokens
GOPHER_STOP_MIN = 2                       # need >=2 distinct stopwords

GOPHER_STOPS = ("the", "a", "of", "and", "to", "in", "is", "it")


def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-filter cascade with FIRST-FAILING-RULE
    attribution: five ordered rules (word-count bounds, mean word
    length, symbol ratio, single-word repetition, stopword floor) and a
    per-rule drop ledger — the audit a curation team reads before
    shipping a filter, not just the kept/dropped bit that
    corpus_curate_flags emits.

    Every rule is an integer cross-multiplied predicate (no ratios):
    e.g. mean word length uses Σlen = length(text) − (W−1) (single-
    spaced corpus spec) against 2W/12W bounds, repetition compares
    5·max-token-count > W.

    Distribution: rules 1-3 and 5 are per-row codegen over the scan;
    rule 4's token mode rides one (doc, token) map-side-combined agg —
    the same shuffle text_tfidf_top_terms pays.  The verdict ledger is
    a 6-row final agg.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = _ws_tokens(F.col("text"))
    stops = ",".join(f"'{s}'" for s in GOPHER_STOPS)
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("w"),
        (F.length("text") - F.size(toks) + 1).cast("long").alias("sum_len"),
        F.length(F.regexp_replace(F.lower("text"), "[a-z ]", ""))
        .cast("long")
        .alias("n_sym"),
        F.length("text").cast("long").alias("n_chars_t"),
        F.expr(
            f"size(array_distinct(filter(split(lower(text), ' '),"
            f" x -> x IN ({stops}))))"
        )
        .cast("long")
        .alias("n_stops"),
    )
    topw = (
        d.select("doc_id", F.explode(toks).alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    j = base.join(topw, "doc_id")
    verdict = F.expr(
        f"""CASE
          WHEN w < {GOPHER_W_MIN} OR w > {GOPHER_W_MAX} THEN 'r1_word_count'
          WHEN sum_len < {GOPHER_MWL_MIN} * w
               OR sum_len > {GOPHER_MWL_MAX} * w THEN 'r2_mean_word_len'
          WHEN 10 * n_sym > {GOPHER_SYM_DECI} * n_chars_t THEN 'r3_symbol_ratio'
          WHEN {GOPHER_TOPW_MULT} * top_c > w THEN 'r4_repetition'
          WHEN n_stops < {GOPHER_STOP_MIN} THEN 'r5_stopword_floor'
          ELSE 'kept' END"""
    )
    tot = d.count()
    return (
        j.select(verdict.alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("share_ppm", F.expr(f"(1000000 * n_docs) div {tot}"))
    )


# -- round-4 eighth-continuation: split leakage audit ------------------------

SPLIT_TRAIN_PCT, SPLIT_VAL_PCT = 90, 95  # md5 bucket < 90 / < 95 / rest


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (md5-bucket of doc_id: 90/5/5)
    with the LEAKAGE audit: exact-duplicate texts that span two splits
    are train→eval contamination — the first check any eval pipeline
    runs, and the one that silently invalidates benchmarks when
    skipped.

    Per split: doc count, share, distinct text hashes, docs whose text
    also appears in ANOTHER split (leaked), exact ppm.  All integer.

    Distribution: the split tag is one hash per row; leakage rides a
    text-hash groupBy (the dedup_exact shuffle) counting distinct
    splits per hash, broadcast back as a (hash → n_splits) join.
    """
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "doc_id",
        F.md5("text").alias("th"),
        F.expr(
            f"""CASE WHEN conv(substr(md5(concat('sp:', doc_id)), 1, 6), 16, 10)
                          % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                     WHEN conv(substr(md5(concat('sp:', doc_id)), 1, 6), 16, 10)
                          % 100 < {SPLIT_VAL_PCT} THEN 'val'
                     ELSE 'test' END"""
        ).alias("split"),
    )
    spans = tagged.groupBy("th").agg(
        F.countDistinct("split").alias("n_splits")
    )
    joined = tagged.join(spans, "th")
    tot = d.count()
    return (
        joined.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("th").alias("n_distinct_texts"),
            F.sum((F.col("n_splits") > 1).cast("long")).alias("n_leaked_docs"),
        )
        .select(
            "split",
            "n_docs",
            F.expr(f"(1000000 * n_docs) div {tot}").alias("share_ppm"),
            "n_distinct_texts",
            "n_leaked_docs",
            F.expr("(1000000 * n_leaked_docs) div n_docs").alias("leak_ppm"),
        )
    )
