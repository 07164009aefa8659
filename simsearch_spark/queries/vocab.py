"""Declared queries: corpus vocabulary statistics, TF-IDF keyword
extraction, and PII scrubbing — text-analysis extensions of the
LLM-pipeline surface (no reference counterpart; the reference's text
operator is the q-gram similarity facet, ``DataIngestor.java:151-204``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from simsearch_spark.functions.pii import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    email_count,
    ipv4_count,
    phone_count,
    redact,
)
from simsearch_spark.functions.text import ws_tokens
from simsearch_spark.operators.fanout import fanout_for_kernel
from simsearch_spark.queries.pipeline import _WS_TOKS
from simsearch_spark.sources.registry import load_table

NGRAM_TOP = 50
TFIDF_TOP = 3


# -----------------------------------------------------------------------------
# ngram_vocab: corpus-level top-N bigram counts
# -----------------------------------------------------------------------------


def q_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``NGRAM_TOP`` whitespace bigrams by corpus frequency — the
    vocabulary/collocation census (tokenizer training, boilerplate
    discovery, Zipf audits).

    100 TB shape: the bigram fan-out is row-local (zip of two shifted
    slices — no join), the count is one shuffle with map-side partial
    aggregation on the ngram key, and the final top-N is a TakeOrdered —
    no global sort.  Skewed head ngrams are exactly what partial
    aggregation absorbs: each map task pre-counts its own copies.

    The zip_with(slice, slice) form matters: pairing positions with
    sequence+element_at re-walks the array per element (quadratic per
    row — measured 11x slower at sf0.1), while two shifted slices are
    one linear copy each."""
    # no kernel fan-out here: the bigram explode is whole-stage-codegen'd
    # JVM work — cheaper than one shuffle of the raw text (r14 A/B:
    # 0.94 s fanned vs 0.71 s direct at sf0.1); the map-side partial
    # aggregation collapses the fan-out before any exchange either way
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = ws_tokens(F.col("text"))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(NGRAM_TOP)
    )


SQL_NGRAM_VOCAB = f"""
WITH t AS (SELECT {_WS_TOKS} AS toks FROM documents WHERE text IS NOT NULL),
b AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS ngram
  FROM t WHERE len(toks) >= 2
)
SELECT ngram, count(*) AS n
FROM b GROUP BY ngram
ORDER BY n DESC, ngram ASC
LIMIT {NGRAM_TOP}
"""


# -----------------------------------------------------------------------------
# tfidf_keywords: top terms per document
# -----------------------------------------------------------------------------


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` TF-IDF terms per document (smoothed idf =
    ln((N+1)/(df+1)) + 1, the sklearn convention) — per-doc keyword
    extraction for tagging / routing / topic audits.

    100 TB shape: two keyed shuffles with map-side combine ((doc, term)
    term-frequency, then term document-frequency), a shuffle join of tf
    against the vocab-sized df frame on the term key (NOT broadcast — a
    100 TB vocab is not driver-sized), a 1-row corpus count broadcast, and
    one per-doc window for the top-N.  Determinism: counts are exact
    integers, the score is identical IEEE arithmetic on both engines,
    and the window orders by the ROUNDED score with a term tie-break."""
    docs = fanout_for_kernel(
        load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull()),
        "doc_id",
    )
    terms = docs.select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("term"))
    # tf feeds BOTH the score join and the document-frequency agg; Catalyst
    # does not share common subplans, so without the persist each consumer
    # re-scans the corpus and re-runs the explode+count (plan-audited: 3
    # FileScans -> 2).  tf is the (doc, distinct-term) frame — far smaller
    # than the exploded token stream it collapses — and spills to disk at
    # scale rather than re-tokenizing the corpus
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n_docs").cast("double") + 1)
                        / (F.col("df").cast("double") + 1)
                    )
                    + 1
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tfidf", "rank")
    )


SQL_TFIDF_KEYWORDS = f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS toks FROM documents WHERE text IS NOT NULL),
term AS (SELECT doc_id, unnest(toks) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM t),
s AS (
  SELECT tf.doc_id, tf.term,
         round(tf::DOUBLE * (ln((n_docs::DOUBLE + 1) / (df::DOUBLE + 1)) + 1), 6) AS tfidf
  FROM tf JOIN dfreq USING (term), nd
)
SELECT doc_id, term, tfidf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
FROM s
QUALIFY rank <= {TFIDF_TOP}
"""


# -----------------------------------------------------------------------------
# lm_perplexity: count-based bigram LM quality score (the CCNet-style filter)
# -----------------------------------------------------------------------------

LM_ALPHA = 0.5  # add-alpha smoothing


def q_lm_perplexity(
    spark: SparkSession, sf_dir: str, scores_only: bool = False
) -> DataFrame:
    """Per-document bigram-LM log-perplexity — the classic corpus-quality
    filter (CCNet trains a KenLM on reference text and drops the worst
    tail; here the LM is count-based and trained on the corpus itself so
    the whole recipe is deterministic and SQL-expressible).  Score =
    mean over the document's bigrams of −ln p(w₂|w₁) with add-α smoothing,
    p(w₂|w₁) = (c(w₁w₂)+α)/(c(w₁·)+α·V); boilerplate scores low,
    token-salad scores high.  Documents with <2 tokens get a NULL score
    (nothing to condition on) and stay in the frame for the filter stage.

    100 TB shape: per-doc bigrams collapse to (doc, bigram, count) FIRST
    (row-local fan-out, one keyed shuffle with map-side combine); the LM
    tables derive from that frame by re-aggregation (never re-tokenizing
    the corpus — persisted like tfidf's tf); scoring joins the per-doc
    frame to the bigram LM on the bigram key as a SHUFFLE join (a corpus
    LM is vocab²-sized — not driver-sized, same broadcast-or-join call as
    TF-IDF's df); V and the context counts are a 1-row broadcast and a
    vocab-sized join.

    scores_only=True returns just the aggregated (doc_id, n_bigrams,
    log_ppl) frame — one row per document that HAS a bigram — skipping
    the final corpus LEFT JOIN whose only effect is re-attaching
    unscorable (<2 token) documents with ``n_bigrams = 0, log_ppl NULL``.
    A composition that left-joins the scores onto its own doc frame and
    filters on ``log_ppl`` (corpus_curation_pipeline) gets an identical
    result either way — ``X LEFT JOIN (docs LEFT JOIN S) ≡ X LEFT JOIN S``
    on the unique key ``doc_id`` because S's keys are a subset of docs' —
    without scanning ``documents`` once more for the re-attach join
    (pinned in tests/test_mount.py::test_lm_scores_only_arm)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # Shared-tokenized-frame variant MEASURED AND REJECTED (r15, VERDICT
    # r14 task 5): caching one (doc_id, toks) frame for the bigram and
    # vocab consumers looked like "one fewer corpus scan", but a 3-arm
    # interleaved in-JVM A/B (plans/r15/ab/lm_ab.txt) showed it SLOWER
    # than keeping the two independent scans (lm_perplexity 1.35 vs
    # 1.28 s min, corpus_quality_filter 2.47 vs 1.87 s) — the token-array
    # cache write plus the InMemoryRelation boundary cost more than the
    # duplicated ws_tokens pass.  The bgc persist stays: scoring reads it
    # once, but compositions (corpus_quality_filter's quantile passes)
    # re-read the scored chain and without the persist would re-run the
    # explode+groupBy per pass.
    bgc = lm_doc_bigrams(docs).persist()
    vocab = docs.select(F.explode(ws_tokens(F.col("text"))).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    if scores_only:
        return lm_score_self_agg(bgc, vocab)
    return lm_score_self(docs, bgc, vocab)


def lm_doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, ngram, m, ctx): per-document bigram counts — the row-local
    fan-out + one keyed map-side-combinable shuffle that both the LM
    training tables and per-query scoring derive from."""
    docs = fanout_for_kernel(docs, "doc_id")
    return bigrams_from_tokens(
        docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    )


def bigrams_from_tokens(toked: DataFrame) -> DataFrame:
    """lm_doc_bigrams over an already-tokenized (doc_id, toks) frame — the
    arm that lets one tokenization pass feed both the bigram counts and
    the vocab aggregate (identical expressions, just factored)."""
    toks = F.col("toks")
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        toked.select("doc_id", F.explode(bigrams).alias("ngram"))
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("m"))
        .withColumn("ctx", F.substring_index("ngram", " ", 1))
    )


def lm_count_tables(bgc: DataFrame, docs: DataFrame):
    """The corpus-level LM artifacts — (bigram counts ``cb``, context
    counts ``cu``, 1-row vocab size ``v``).  Mount-time output
    (``mount/artifacts.py``): persisted once, every serve-side scoring
    query joins them instead of re-aggregating the corpus."""
    toks = ws_tokens(F.col("text"))
    cb = bgc.groupBy("ngram").agg(F.sum("m").alias("cb"))
    cu = bgc.groupBy("ctx").agg(F.sum("m").alias("cu"))
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    return cb, cu, vocab


def lm_score(
    docs: DataFrame, bgc: DataFrame, cb: DataFrame, cu: DataFrame, vocab: DataFrame
) -> DataFrame:
    """Per-document add-α bigram log-perplexity given the LM tables —
    identical arithmetic whether the tables were just aggregated
    (mount training) or loaded from a mount (serve_lm_perplexity)."""
    enriched = bgc.join(cb, "ngram").join(cu, "ctx").crossJoin(F.broadcast(vocab))
    return _lm_score_enriched(docs, enriched)


def lm_score_self(docs: DataFrame, bgc: DataFrame, vocab: DataFrame) -> DataFrame:
    """Self-trained scoring (q_lm_perplexity): when the LM tables would be
    aggregated from ``bgc`` itself, the two aggregate-then-join subplans
    are redundant — cb/cu are window sums over the very frame being
    scored.  Integer counts make the window and join arms exactly equal
    (sum order cannot matter), and the plan drops from two aggregation
    subplans + two sort-merge joins (4 exchanges of ``bgc``-derived data)
    to two window exchanges over one pass of the persisted bigram frame.
    The serve/audit path keeps :func:`lm_score` — mounted tables are a
    different source and genuinely need the join."""
    return _lm_join_docs(docs, lm_score_self_agg(bgc, vocab))


def lm_score_self_agg(bgc: DataFrame, vocab: DataFrame) -> DataFrame:
    """The window-sum self-scoring WITHOUT the docs re-attach join: one
    (doc_id, n_bigrams, log_ppl) row per document that has ≥1 bigram.
    Compositions that left-join these scores onto their own doc-keyed
    frame (corpus_curation_pipeline) use this arm directly — the corpus
    LEFT JOIN in :func:`lm_score_self` only re-attaches unscorable docs
    as ``(0, NULL)`` rows, which an outer left join reproduces anyway."""
    # ONE exchange serves both window sums (r15, guide §2.4): ``ctx`` is
    # functionally determined by ``ngram`` (its first word, set in
    # lm_doc_bigrams), so partitionBy("ctx", "ngram") groups rows exactly
    # as partitionBy("ngram") does, while hash-partitioning on ``ctx``
    # alone satisfies BOTH windows' required distributions — the second
    # window reuses the first's exchange AND its (ctx, ngram) sort order
    # (a prefix).  Integer counts keep the sums order-independent, so the
    # result is bit-identical to the two-exchange form (measured 1.37 →
    # 1.12 s at sf0.1; plan 16 → 14 Exchanges).  Skew at 100 TB is
    # unchanged: the old plan's ``cu`` window already hash-partitioned the
    # same frame by the same hot-context key — this removes an exchange
    # without widening any partition.
    enriched = (
        bgc.repartition("ctx")
        .withColumn("cb", F.sum("m").over(Window.partitionBy("ctx", "ngram")))
        .withColumn("cu", F.sum("m").over(Window.partitionBy("ctx")))
        .crossJoin(F.broadcast(vocab))
    )
    return _lm_scored_agg(enriched)


def _lm_score_enriched(docs: DataFrame, enriched: DataFrame) -> DataFrame:
    return _lm_join_docs(docs, _lm_scored_agg(enriched))


def _lm_scored_agg(enriched: DataFrame) -> DataFrame:
    a = F.lit(float(LM_ALPHA))
    return (
        enriched
        .withColumn(
            # nll is pinned PER (doc, ngram) ROW to an exact INTEGER of
            # micro-nats before the cross-row fold (ADVICE r7, hardened):
            # rounding to a 6-decimal double still let the cross-row sum's
            # accumulation order flip the final round when the per-doc mean
            # landed on a 7th-digit tie (observed when this frame is
            # re-aggregated under a different plan in
            # corpus_quality_filter).  Integer sums are order-independent
            # and exact, so both engines divide identical integers and the
            # final round sees the identical double.
            "nll6",
            F.round(
                -F.log(
                    (F.col("cb").cast("double") + a)
                    / (F.col("cu").cast("double") + a * F.col("v").cast("double"))
                )
                * F.lit(1_000_000.0),
                0,
            ).cast("long"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            F.round(
                F.sum(F.col("m") * F.col("nll6")).cast("double")
                / (F.sum("m").cast("double") * F.lit(1_000_000.0)),
                6,
            ).alias("log_ppl"),
        )
    )


def _lm_join_docs(docs: DataFrame, scored: DataFrame) -> DataFrame:
    """Re-attach unscorable (<2-token) documents as ``(0, NULL)`` rows —
    the left join the ``scores_only`` arm skips."""
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
        "log_ppl",
    )


SQL_LM_PERPLEXITY = f"""
WITH t AS (SELECT doc_id, {_WS_TOKS} AS toks FROM documents WHERE text IS NOT NULL),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS ngram
  FROM t WHERE len(toks) >= 2
),
bgc AS (
  SELECT doc_id, ngram, split_part(ngram, ' ', 1) AS ctx, count(*) AS m
  FROM bg GROUP BY doc_id, ngram
),
cb AS (SELECT ngram, sum(m) AS cb FROM bgc GROUP BY ngram),
cu AS (SELECT ctx, sum(m) AS cu FROM bgc GROUP BY ctx),
v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(toks) AS tok FROM t)),
s AS (
  SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
         round(sum(m * CAST(round(-ln((cb::DOUBLE + {LM_ALPHA}::DOUBLE)
                                      / (cu::DOUBLE + {LM_ALPHA}::DOUBLE * v::DOUBLE))
                                  * 1000000) AS BIGINT))::DOUBLE
               / (sum(m)::DOUBLE * 1000000), 6) AS log_ppl
  FROM bgc JOIN cb USING (ngram) JOIN cu USING (ctx), v
  GROUP BY doc_id
)
SELECT t.doc_id, coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams, s.log_ppl
FROM t LEFT JOIN s USING (doc_id)
"""


# -----------------------------------------------------------------------------
# pii_scrub: detection counts + redacted-length audit
# -----------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII census (emails / IPv4 / phone-ish runs) plus the
    post-redaction character count — the release-scrub audit.  Pure
    regexp column expressions, embarrassingly parallel, no shuffle.
    The synthetic corpus contains no PII (all counts 0 — the oracle
    still verifies both engines' regex semantics agree on every doc);
    the positive-match behavior is pinned by literal fixtures in
    tests/test_pii.py, including a DuckDB cross-engine check."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        email_count(t).alias("n_emails"),
        ipv4_count(t).alias("n_ipv4"),
        phone_count(t).alias("n_phones"),
        F.length(redact(t)).alias("n_chars_redacted"),
    )


_REDACT2 = (
    f"regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{IPV4_RE}', '<IP>', 'g')"
)

SQL_PII_SCRUB = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ipv4,
       len(regexp_extract_all({_REDACT2}, '{PHONE_RE}')) AS n_phones,
       length(regexp_replace({_REDACT2}, '{PHONE_RE}', '<PHONE>', 'g')) AS n_chars_redacted
FROM documents
"""


# -----------------------------------------------------------------------------
# bpe_merges: tokenizer training (first-N BPE merge rules)
# -----------------------------------------------------------------------------

BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-``BPE_MERGES`` byte-pair-encoding merge rules learned from the
    corpus (operators/bpe.py) — tokenizer induction.  Iterative argmax
    selection is not SQL-expressible, so this query carries no DuckDB
    oracle; it is equivalence-verified against an independent pure-Python
    BPE implementation over the same fixture (tests/test_bpe.py)."""
    from simsearch_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", BPE_MERGES)
    return spark.createDataFrame(
        merges,
        schema="merge_rank INT, left STRING, right STRING, pair_count BIGINT",
    )


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode side of the tokenizer: learn ``BPE_MERGES`` rules, apply
    them to the corpus (operators/bpe.py apply_bpe), report per source the
    document count, total subword tokens, and mean chars-per-token
    (compression the vocab bought).  Verified token-for-token against the
    independent Python BPE (tests/test_bpe.py)."""
    from simsearch_spark.operators.bpe import apply_bpe, learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    merges = learn_bpe_merges(docs, "text", BPE_MERGES)
    toks = apply_bpe(docs.select("source", "text"), "text", merges)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("bpe_tokens")).alias("n_subwords"),
        # NULL for a source whose documents hold no token at all
        F.round(
            F.try_divide(
                F.sum(F.aggregate(
                    F.transform(F.col("bpe_tokens"), F.length),
                    F.lit(0).cast("long"), lambda a, x: a + x,
                )).cast("double"),
                F.sum(F.size("bpe_tokens")),
            ),
            6,
        ).alias("chars_per_token"),
    )


# -----------------------------------------------------------------------------
# corpus_quality_filter: the CCNet-style perplexity-tail drop, composed on
# the bigram-LM scorer above
# -----------------------------------------------------------------------------

#: fraction of the scored corpus kept by log-perplexity: docs above the
#: p90 log_ppl (token salad) are dropped, as are unscorable (<2 token) docs
LM_QUALITY_P = 0.9


def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning stage CCNet builds on its LM: score every document with
    the bigram-LM log-perplexity (the full ``lm_perplexity`` recipe,
    replayed here end to end), compute the corpus p90 of the score, and
    bucket each document — ``keep`` (scored, at/below the tail threshold),
    ``drop_tail`` (worst 10%), ``drop_unscored`` (<2 tokens, nothing to
    condition on).  Emitting the bucket per document rather than the
    filtered subset verifies BOTH the threshold computation and every
    classification against the oracle.

    100 TB shape: scoring is the lm_perplexity plan (one keyed shuffle +
    vocab²-LM shuffle join); the threshold is the DISTRIBUTED exact
    quantile (operators/quantile.py: iterative histogram-bin narrowing —
    a handful of map-side-combinable passes with O(bins) driver state,
    identical linear interpolation to DuckDB quantile_cont / Spark
    ``percentile``), injected as a broadcast literal.  The query plan
    itself carries NO percentile aggregate — the r8-flagged single-buffer
    ObjectHashAggregate that concentrated every log_ppl in one task is
    gone (plan-asserted in tests/test_quantile.py)."""
    from simsearch_spark.operators.quantile import exact_quantile_cont

    scored = q_lm_perplexity(spark, sf_dir).persist()
    t_raw = exact_quantile_cont(scored, "log_ppl", LM_QUALITY_P)
    # round in Spark (HALF_UP BigDecimal semantics, constant-folded), so
    # the 6-digit threshold is bit-identical to the old percentile plan's
    thr = spark.range(1).select(
        F.round(F.lit(t_raw).cast("double"), 6).alias("t")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_bigrams",
        "log_ppl",
        F.when(F.col("log_ppl").isNull(), F.lit("drop_unscored"))
        .when(F.col("log_ppl") > F.col("t"), F.lit("drop_tail"))
        .otherwise(F.lit("keep"))
        .alias("bucket"),
    )


SQL_CORPUS_QUALITY_FILTER = f"""
WITH lm AS ({SQL_LM_PERPLEXITY}),
thr AS (
  SELECT round(quantile_cont(log_ppl, {LM_QUALITY_P}), 6) AS t
  FROM lm WHERE log_ppl IS NOT NULL
)
SELECT doc_id, n_bigrams, log_ppl,
       CASE WHEN log_ppl IS NULL THEN 'drop_unscored'
            WHEN log_ppl > t THEN 'drop_tail'
            ELSE 'keep' END AS bucket
FROM lm, thr
"""


def q_bpe_encode_mounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale encode from a MOUNTED frozen merge table
    (mount/bpe.py, VERDICT r13 task 2): the merges train ONCE into a
    temp mount, then the corpus encodes through ``serve_bpe_encode`` —
    a bounded artifact read + the row-local Arrow kernel, zero shuffles,
    the shape a 100 TB tokenization job actually runs (train tiny,
    encode everywhere).  Per-source stats are definitionally equal to
    the self-contained ``bpe_token_stats`` (same merges — training is
    deterministic; same kernel), pinned row-for-row in tests/test_bpe.py.
    The mount is built in a temp dir and removed before returning."""
    import shutil
    import tempfile

    from simsearch_spark.mount.bpe import bpe_encode_stats, mount_bpe

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="simsearch_bpe_mount_")
    try:
        mount_bpe(spark, d, docs)
        return bpe_encode_stats(spark, d, docs).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


VOCAB_QUERIES = {
    "ngram_vocab": (q_ngram_vocab, SQL_NGRAM_VOCAB),
    "tfidf_keywords": (q_tfidf_keywords, SQL_TFIDF_KEYWORDS),
    "lm_perplexity": (q_lm_perplexity, SQL_LM_PERPLEXITY),
    "corpus_quality_filter": (q_corpus_quality_filter, SQL_CORPUS_QUALITY_FILTER),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "bpe_merges": (q_bpe_merges, None),
    "bpe_token_stats": (q_bpe_token_stats, None),
    "bpe_encode_mounted": (q_bpe_encode_mounted, None),
}
