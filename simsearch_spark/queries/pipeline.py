"""Declared queries: training-data pipeline operators — dedup family, ANN,
text analysis, event analytics.

Oracle strategy: every hash-based operator (fingerprint, MinHash-LSH,
SimHash) is built on the char-fold base hash so the *entire pipeline* —
shingling, hashing, banding, candidate join, verification — is replayed
verbatim in DuckDB SQL.  The oracles are generated programmatically from the
same constants (`perm_params`) the Spark side uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simsearch_spark.functions.hashing import MOD, PERM_MOD, perm_params
from simsearch_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    lang_id,
    quality_score,
    token_count,
)
from simsearch_spark.operators.ann import cosine_topk, lcg_hyperplanes, lsh_cosine_topk
from simsearch_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from simsearch_spark.queries.core import K
from simsearch_spark.queries.vector import _cosine_sql
from simsearch_spark.sources.registry import load_table

MINHASH_T = 0.7
NGRAM_T = 0.7
SIMHASH_R = 6
COSINE_T = 0.45
N_HASHES = 16
N_BANDS = 4
SIMHASH_BITS = 32  # of the SPREAD base hash — all 32 entropic (hashing.SPREAD_MULT)

# -----------------------------------------------------------------------------
# shared DuckDB fragments
# -----------------------------------------------------------------------------

#: char-fold hash of a string expr (mirrors functions.text.char_fold_hash;
#: list_reduce's first-element init is equivalent to Spark's 0-init fold
#: because (0*31+c)%m == c for c < m, and later steps are congruent mod m)
def _charfold_sql(s: str) -> str:
    return (
        f"list_reduce(list_transform(string_split_regex({s}, ''), c -> ascii(c)::BIGINT), "
        f"(a, x) -> (a * 31 + x) % {MOD})"
    )


#: 3-word shingles of a split-on-space word list (mirrors dedup.word_shingles)
def _shingles_sql(w: str) -> str:
    return (
        f"list_distinct(list_transform(range(0, greatest(len({w}) - 2, 1)), "
        f"i -> concat_ws(' ', {w}[i+1], {w}[i+2], {w}[i+3])))"
    )


def _jacc_sql(a: str, b: str) -> str:
    isect = f"len(list_intersect({a}, {b}))"
    return f"({isect}::DOUBLE / (len({a}) + len({b}) - {isect})::DOUBLE)"


_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WS_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


# -----------------------------------------------------------------------------
# dedup_exact: fingerprint groups
# -----------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


SQL_DEDUP_EXACT = f"""
WITH fp AS (
  SELECT doc_id, {_charfold_sql(_NORM_TEXT)} AS fingerprint FROM documents
)
SELECT fingerprint, min(doc_id) AS keeper, count(*) AS n_docs
FROM fp GROUP BY fingerprint
"""


# -----------------------------------------------------------------------------
# dedup_minhash_lsh: full LSH pipeline replayed in SQL
# -----------------------------------------------------------------------------

def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS)


def _minhash_oracle() -> str:
    params = perm_params(N_HASHES)
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {PERM_MOD})) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    rows_per_band = N_HASHES // N_BANDS
    band_exprs = []
    for j in range(N_BANDS):
        expr = f"sig_{j * rows_per_band}"
        for r in range(1, rows_per_band):
            expr = f"(({expr}) * 31 + sig_{j * rows_per_band + r}) % {MOD}"
        band_exprs.append(f"{expr} AS b{j}")
    bands_sql = ",\n         ".join(band_exprs)
    expl = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {j} AS band_idx, b{j} AS bh FROM bands" for j in range(N_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql("string_split(text, ' ')")} AS sh FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
), hs AS (
  SELECT doc_id, sh, list_transform(sh, s -> {_charfold_sql('s')}) AS hashes FROM sh
), sig AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hs
), bands AS (
  SELECT doc_id,
         {bands_sql}
  FROM sig
), expl AS (
{expl}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM expl a JOIN expl b ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, round({_jacc_sql('sa.sh', 'sb.sh')}, 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
WHERE {_jacc_sql('sa.sh', 'sb.sh')} >= {MINHASH_T}
"""


SQL_DEDUP_MINHASH_LSH = _minhash_oracle()


# -----------------------------------------------------------------------------
# dedup_append_mounted: the PRODUCTION dedup shape (r12) — mount a base
# corpus' MinHash band index once, join a crawl delta against it
# -----------------------------------------------------------------------------

#: base/delta split for the mounted-append parity query: docs with
#: doc_id ≡ DEDUP_APPEND_RESIDUE (mod DEDUP_APPEND_MOD) are the crawl
#: delta (~10 % of the corpus at ANY scale factor — the production shape
#: where |delta| ≪ |base|; a fixed id cut made the delta 92 % of the
#: corpus at sf0.1 and the append cost meaningless)
DEDUP_APPEND_MOD = 10
DEDUP_APPEND_RESIDUE = 7


def q_dedup_append_mounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a mounted corpus (mount/dedup.py): ~90 %
    of the documents mount as the persisted signature/band index; the
    remaining ~10 % arrive as a crawl delta whose (delta ↔ corpus) and
    (delta ↔ delta) near-dup pairs come from joining the FROZEN-hash
    delta bands against the index — never re-scanning the base text.
    Definitionally equal to ``minhash_lsh_pairs(base ∪ delta)`` restricted
    to delta-touching pairs, which is exactly what the oracle states.

    100 TB shape: the base side is a directory-pruned, In-filtered,
    broadcast-probed scan of the narrow band index (SCALE.md §r12 —
    probe flat at 1×/10×/30× base with a fixed delta); delta work is
    ∝ |delta|.  The mount is built in a temp dir and removed before
    returning — the result frame is eagerly checkpointed."""
    import shutil
    import tempfile

    from simsearch_spark.mount.dedup import dedup_append, mount_dedup

    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.pmod(F.col("doc_id"), F.lit(DEDUP_APPEND_MOD)) == DEDUP_APPEND_RESIDUE
    base = docs.where(~is_delta)
    delta = docs.where(is_delta)
    d = tempfile.mkdtemp(prefix="simsearch_dedup_mount_")
    try:
        mount_dedup(
            spark, d, base, threshold=MINHASH_T, n_hashes=N_HASHES, bands=N_BANDS
        )
        # update=False: the temp mount is discarded below, so paying the
        # two partitioned index-append writes would be pure overhead (the
        # update path is parity-pinned in tests/test_mount_dedup.py)
        return dedup_append(spark, d, delta, update=False)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_DEDUP_APPEND_MOUNTED = f"""
WITH p AS ({_minhash_oracle()})
SELECT id_a, id_b, jaccard FROM p
WHERE id_a % {DEDUP_APPEND_MOD} = {DEDUP_APPEND_RESIDUE}
   OR id_b % {DEDUP_APPEND_MOD} = {DEDUP_APPEND_RESIDUE}
"""


# -----------------------------------------------------------------------------
# dedup_clusters: transitive near-dup groups over the minhash pair graph
# -----------------------------------------------------------------------------

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph: (doc_id,
    component = min reachable doc_id) — the transitive-grouping step between
    pair generation and keeper selection that no per-pair rule can decide
    (pairs (1,2), (2,3) are ONE group keeping doc 1).  Iterative hash-min
    with pointer jumping (operators/dedup.py::connected_components); the
    oracle is a recursive-CTE transitive closure over the same pair SQL."""
    from simsearch_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS)
    return connected_components(pairs).select(F.col("id").alias("doc_id"), "component")


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE p AS ({_minhash_oracle()}),
e AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION
  SELECT id_b AS s, id_a AS d FROM p
),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
)
SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s
"""


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's terminal step: the surviving corpus.  Every doc in
    a near-dup component except its min-id keeper is dropped via one
    left-anti join against the (dup-graph-sized, tiny vs corpus) component
    frame — docs outside any component pass through untouched, so the anti
    join is the only corpus-wide work and it broadcasts at fixture scale /
    shuffle-hash-joins on doc_id at 100 TB.  Composes pair generation
    (MinHash-LSH), transitive clustering (connected_components), and keeper
    selection — what a user actually runs to clean a training corpus."""
    from simsearch_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", MINHASH_T, N_HASHES, N_BANDS)
    losers = (
        connected_components(pairs)
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"))
    )
    return docs.join(losers, "doc_id", "left_anti").select("doc_id", "source", "n_chars")


SQL_DEDUP_APPLY = f"""
WITH RECURSIVE p AS ({_minhash_oracle()}),
e AS (
  SELECT id_a AS s, id_b AS d FROM p
  UNION
  SELECT id_b AS s, id_a AS d FROM p
),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
),
comps AS (
  SELECT s AS doc_id, least(s, min(d)) AS component FROM reach GROUP BY s
)
SELECT d.doc_id, d.source, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comps WHERE doc_id != component)
"""


# -----------------------------------------------------------------------------
# dedup_simhash
# -----------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", SIMHASH_R, SIMHASH_BITS)


def _simhash_oracle() -> str:
    # same Knuth spread as functions.hashing.simhash (exact int64 both sides)
    from simsearch_spark.functions.hashing import SPREAD_MULT

    bit_terms = " + ".join(
        f"(CASE WHEN list_reduce(list_transform(hashes, h -> (((h * {SPREAD_MULT}) >> {j}) & 1) * 2 - 1), "
        f"(a, x) -> a + x) > 0 THEN {2**j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql("string_split(text, ' ')")} AS sh FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
), hs AS (
  SELECT doc_id, list_transform(sh, s -> {_charfold_sql('s')}) AS hashes FROM sh
), sim AS (
  SELECT doc_id, {bit_terms} AS sig FROM hs
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sig, b.sig)) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_R}
"""


SQL_DEDUP_SIMHASH = _simhash_oracle()


# -----------------------------------------------------------------------------
# dedup_ngram_jaccard: exact prefix-filtered join vs brute-force oracle
# -----------------------------------------------------------------------------

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", NGRAM_T)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql("string_split(text, ' ')")} AS sh FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, round({_jacc_sql('a.sh', 'b.sh')}, 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {_jacc_sql('a.sh', 'b.sh')} >= {NGRAM_T}
"""


# -----------------------------------------------------------------------------
# dedup_embed_cosine
# -----------------------------------------------------------------------------

def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "vec_id", "embedding", COSINE_T)


SQL_DEDUP_EMBED_COSINE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round({_cosine_sql('a.embedding', 'b.embedding')}, 6) >= {COSINE_T}
"""


# -----------------------------------------------------------------------------
# ann_cosine_topk: brute-force baseline
# -----------------------------------------------------------------------------

ANN_QUERY_ID = 3


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == ANN_QUERY_ID).first().embedding]
    return cosine_topk(emb, "vec_id", "embedding", qvec, K).select(
        F.col("vec_id").alias("id"), F.col("cos_sim")
    )


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID})
SELECT e.vec_id AS id, round({_cosine_sql('e.embedding', 'qv')}, 6) AS cos_sim
FROM embeddings e, q
ORDER BY round({_cosine_sql('e.embedding', 'qv')}, 6) DESC, e.vec_id LIMIT {K}
"""


# -----------------------------------------------------------------------------
# ann_lsh_topk: sign-LSH bucketed, multi-probe hamming<=1
# -----------------------------------------------------------------------------

N_PLANES = 8
EMB_DIM = 64
PLANES = lcg_hyperplanes(EMB_DIM, N_PLANES)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == ANN_QUERY_ID).first().embedding]
    return lsh_cosine_topk(emb, "vec_id", "embedding", qvec, K, PLANES, probe_hamming=1).select(
        F.col("vec_id").alias("id"), F.col("cos_sim"), F.col("bucket")
    )


def lsh_plane_cols_sql() -> str:
    """The hyperplane literals as a one-row CTE body — shared by the LSH
    oracle here and the recall-audit oracle (queries/ivf.py) so the two can
    never drift apart."""
    return ", ".join(
        f"[{', '.join(repr(x) for x in plane)}]::DOUBLE[] AS p{i}"
        for i, plane in enumerate(PLANES)
    )


def lsh_bucket_sql(vec: str) -> str:
    """DuckDB expression for the sign-LSH bucket of ``vec`` against the
    ``planes`` CTE produced by ``lsh_plane_cols_sql`` (same bit order as
    operators/ann.py::lsh_bucket)."""
    terms = []
    for i in range(N_PLANES):
        dot = (
            f"list_reduce(list_transform(range(1, {EMB_DIM + 1}), "
            f"i -> {vec}[i]::DOUBLE * p{i}[i]), (a, x) -> a + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2**i}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


def _lsh_oracle() -> str:
    plane_cols = lsh_plane_cols_sql()
    bucket_of = lsh_bucket_sql

    return f"""
WITH planes AS (SELECT {plane_cols}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
qb AS (SELECT {bucket_of('qv')} AS qbucket FROM q, planes),
bucketed AS (
  SELECT e.vec_id AS id, e.embedding, {bucket_of('e.embedding')} AS bucket
  FROM embeddings e, planes
)
SELECT b.id, round({_cosine_sql('b.embedding', 'qv')}, 6) AS cos_sim, b.bucket
FROM bucketed b, q, qb
WHERE bit_count(xor(b.bucket, qbucket)) <= 1
ORDER BY round({_cosine_sql('b.embedding', 'qv')}, 6) DESC, b.id LIMIT {K}
"""


SQL_ANN_LSH_TOPK = _lsh_oracle()


# -----------------------------------------------------------------------------
# text analysis: language-ID, quality, token stats
# -----------------------------------------------------------------------------

def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch pandas kernel (equality-tested vs the lang_id column chain):
    # the cold-session bench pays one-time codegen for each of the four
    # interpreted stopword HOF chains, so the kernel wins cold (r02 measured
    # 13.2s -> ~2s) and ties warm.  functions.text.lang_id is the
    # column-expression alternative for join-free plans.
    from simsearch_spark.functions.text import lang_id_frame

    docs = load_table(spark, sf_dir, "documents")
    return lang_id_frame(docs, "doc_id", "text", passthrough=("lang",)).withColumnRenamed(
        "lang", "lang_actual"
    )


def _lang_oracle() -> str:
    ratio = {}
    for lang, sw in LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
        hits = f"len(list_filter(toks, t -> list_contains({lst}, t)))"
        # `toks IS NULL` arm: a NULL text must score 0.0 (and so classify
        # 'und', matching the Arrow kernel) — without it the NULL ratios
        # fall through every CASE comparison to the ELSE language
        # (regeneration-robustness: current fixtures carry no NULL text)
        ratio[lang] = (
            f"(CASE WHEN toks IS NULL OR len(toks) = 0 THEN 0.0 "
            f"ELSE {hits}::DOUBLE / len(toks)::DOUBLE END)"
        )
    return f"""
WITH t AS (SELECT doc_id, lang AS lang_actual, {_WS_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, lang_actual, {ratio['en']} AS s_en, {ratio['de']} AS s_de,
         {ratio['fr']} AS s_fr, {ratio['es']} AS s_es
  FROM t
)
SELECT doc_id, lang_actual,
       CASE WHEN s_en <= 0 AND s_de <= 0 AND s_fr <= 0 AND s_es <= 0 THEN 'und'
            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM s
"""


SQL_TEXT_LANG_ID = _lang_oracle()


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))


_sw_en = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"
_PUNCT_RE = "'[!-/:-@\\[-`{-~]'"

SQL_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n,
         length(text) - length(regexp_replace(text, {_PUNCT_RE}, '', 'g')) AS n_punct,
         {_WS_TOKS} AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         least(n::DOUBLE / 500.0, 1.0) AS len_score,
         1.0 - least((CASE WHEN n = 0 THEN 0.0 ELSE n_punct::DOUBLE / n::DOUBLE END) * 4, 1.0) AS punct_pen,
         least((CASE WHEN len(toks) = 0 THEN 0.0
                ELSE len(list_filter(toks, t -> list_contains({_sw_en}, t)))::DOUBLE / len(toks)::DOUBLE END) * 5,
               1.0) AS sw_score
  FROM t
)
SELECT doc_id, round((len_score + punct_pen + sw_score) / 3.0, 6) AS quality FROM s
"""


_BPE_RE = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'"


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.col("n_chars"),
    )


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       len({_WS_TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, {_BPE_RE})) AS n_bpe_tokens,
       length(text) AS n_chars_calc,
       n_chars
FROM documents
"""


# -----------------------------------------------------------------------------
# event analytics: hourly rollup + gap sessionization (window functions)
# -----------------------------------------------------------------------------

# Sessionize gap contract (FIXTURES.md §F5): INTEGER MICROSECONDS end to end.
# events.parquet stores TIMESTAMP(NANOS); Spark reads long nanos and floors to
# µs (``ts div 1000``, registry.load_table).  The oracle must see the SAME µs
# integers regardless of DuckDB version: DuckDB 1.0 truncates TIMESTAMP_NS to
# µs TIMESTAMP at read (epoch_ns() is then a lossless *1000), newer DuckDB
# keeps full ns — ``epoch_ns(ts) // 1000`` floors identically under both.
# Float ``epoch(ts)`` seconds is version-SENSITIVE (ns/1e9 vs µs/1e6 ulp
# flips) and caused the r2 hash fails.  A session splits when the gap is
# STRICTLY greater than 30 min — measured equal to ``session_window``'s merge
# rule (an event exactly gap after its predecessor stays in the session), so
# batch, streaming, and oracle share one boundary semantics.
SESSION_GAP_US = 1_800_000_000


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(avg(value), 4) AS avg_value, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window functions (the batch equivalent of
    the streaming session-window operator in streaming/).  Gap arithmetic,
    window ordering, and the split predicate all run on integer microseconds
    (see SESSION_GAP_US contract note) so the result is bit-identical to the
    oracle under any DuckDB timestamp precision.

    Contract (uniform across every event-time operator, r8): rows with a
    NULL event time or NULL session key are EXCLUDED — they cannot be
    ordered into a session, and the streaming dual's watermark drops them
    anyway, so batch and stream agree on any regenerated fixture."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__events_s")
    return spark.sql(f"""
        WITH ordered AS (
          SELECT user_id, unix_micros(ts) AS tus, event_id,
                 lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY unix_micros(ts), event_id) AS prev
          FROM __events_s WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), flagged AS (
          SELECT user_id, event_id,
                 CASE WHEN prev IS NULL OR tus - prev > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
          FROM ordered
        )
        SELECT user_id, sum(new_session) AS n_sessions, count(*) AS n_events
        FROM flagged GROUP BY user_id
    """)


def q_events_sessionize_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-guarded two-phase sessionize (operators/sessionize.py) as a
    declared query against the SAME oracle as events_sessionize: the heavy
    window partitions by (user, day) instead of user, so a power-law user
    at 100× fixture scale is bounded by its busiest day, not its lifetime.
    Driver-verified row-identical to the single-window contract."""
    from simsearch_spark.operators.sessionize import sessionize_segmented

    ev = load_table(spark, sf_dir, "events")
    return sessionize_segmented(ev, gap_us=SESSION_GAP_US)


def q_events_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent prior click
    (lexicographic (ts, event_id) order) — the custom temporal-join operator
    Spark lacks natively, built as an ignore-nulls running last over ONE
    key-partitioned window: no join, no range explosion, the canonical
    scale shape for as-of semantics.  Purchases with no prior click keep
    NULLs (tested NULL contract)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    click_ts = F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w)
    click_id = F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(w)
    return (
        ev.withColumn("click_ts", click_ts)
        .withColumn("click_id", click_id)
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "click_id",
            (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("delta_us"),
        )
    )


# Same integer-µs contract as SQL_EVENTS_SESSIONIZE: window order and delta
# arithmetic on epoch_ns//1000, never raw ts (ns tie-breaks) or epoch_us
# (version-dependent rounding) — keeps the as-of attribution identical to
# Spark's µs view under any DuckDB timestamp precision.
SQL_EVENTS_ASOF_CLICK = """
WITH t AS (
  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type FROM events
  WHERE event_type IN ('click', 'purchase')
    AND ts IS NOT NULL AND user_id IS NOT NULL
), w AS (
  SELECT event_id, user_id, tus, event_type,
         last_value(CASE WHEN event_type = 'click' THEN tus END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_tus,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
  FROM t
)
SELECT event_id, user_id, click_id, tus - click_tus AS delta_us
FROM w WHERE event_type = 'purchase'
"""


def q_events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` column
    (``get_json_object`` — JVM-side JSON path, no UDF) and aggregate per
    extracted bucket.  The metadata-column pattern every training corpus
    carries (source tags, crawl info) — one key-partitioned aggregation."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", k % 10)
        .where(F.col("k_bucket").isNotNull())
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def q_events_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly AND daily rollups in
    ONE grouping-sets pass (one shuffle computes every granularity; a
    per-granularity loop would rescan the fact table per level).  The
    classic time-series materialization shape — at scale this output is the
    persisted rollup table queries read instead of raw events."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__events_rollup")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(date_trunc('hour', ts)) = 0 THEN 'hour' ELSE 'day' END AS level,
               coalesce(date_trunc('hour', ts), date_trunc('day', ts)) AS bucket,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM __events_rollup
        GROUP BY GROUPING SETS ((date_trunc('hour', ts), event_type),
                                (date_trunc('day', ts), event_type))
        """
    )


SQL_EVENTS_ROLLUP_MULTI = """
SELECT CASE WHEN grouping(date_trunc('hour', ts)) = 0 THEN 'hour' ELSE 'day' END AS level,
       coalesce(date_trunc('hour', ts), date_trunc('day', ts)) AS bucket,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY GROUPING SETS ((date_trunc('hour', ts), event_type),
                        (date_trunc('day', ts), event_type))
"""


# -----------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style) — local selection, SQL-window oracle
# -----------------------------------------------------------------------------

WINNOW_K = 3
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 100


def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-gram fingerprints per document (operators/winnow.py): one
    shuffle-free Arrow pass selecting each trailing window's min-hash k-gram
    (rightmost tie).  The oracle re-derives the selection independently via
    SQL window functions over the same composite integer key."""
    from simsearch_spark.operators.winnow import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", WINNOW_K, WINNOW_W)


def _winnow_oracle() -> str:
    grams = ", ".join(f"w[i+{j + 1}]" for j in range(WINNOW_K))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
), hl AS (
  SELECT doc_id, list_transform(range(0, greatest(len(w) - {WINNOW_K - 1}, 1)),
         i -> {_charfold_sql(f"concat_ws(' ', {grams})")}) AS hs
  FROM toks
), kg AS (
  SELECT doc_id, unnest(range(0, len(hs))) AS pos, unnest(hs) AS h FROM hl
), sel AS (
  SELECT doc_id,
         min(h * 1048576 + (1048575 - pos)) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS skey,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM kg
)
SELECT DISTINCT doc_id, 1048575 - (skey % 1048576) AS pos, skey // 1048576 AS fp
FROM sel WHERE rn >= least({WINNOW_W}, n)
"""


SQL_DOC_WINNOW = _winnow_oracle()


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS candidate pairs: documents sharing ≥ min_shared winnowed
    fingerprints after the document-frequency stop-fingerprint cut — the
    overlap-detection join the fingerprints exist for."""
    from simsearch_spark.operators.winnow import winnow_fingerprints, winnow_overlap_pairs

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "doc_id", "text", WINNOW_K, WINNOW_W)
    return winnow_overlap_pairs(fps, "doc_id", WINNOW_MIN_SHARED, WINNOW_MAX_DF)


SQL_WINNOW_OVERLAP = f"""
WITH fps AS ({_winnow_oracle()}),
d AS (
  SELECT DISTINCT doc_id, fp FROM fps
),
rare AS (
  SELECT fp FROM d GROUP BY fp HAVING count(*) <= {WINNOW_MAX_DF}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM d a JOIN rare r ON a.fp = r.fp JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


PASSAGE_MIN_DF = 2


def q_passage_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage removal (operators/winnow.py
    ``passage_removal``): shared winnowed fingerprints (df ≥ 2) mark
    repeated passages, the lowest doc id keeps its copy, every other
    occurrence has its k-gram token span cut (overlaps merged).  The output
    carries before/after token accounting AND the char-fold hash of the
    cleaned text, so the oracle verifies the exact tokens that survived the
    cuts — removal semantics, not just overlap reporting."""
    from simsearch_spark.operators.winnow import passage_removal

    docs = load_table(spark, sf_dir, "documents")
    return passage_removal(
        docs, "doc_id", "text", WINNOW_K, WINNOW_W, PASSAGE_MIN_DF
    )


SQL_PASSAGE_REMOVAL = f"""
WITH fps AS ({_winnow_oracle()}),
docs_t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE text IS NOT NULL AND trim(text) != ''
),
sh AS (
  SELECT fp, min(doc_id) AS winner FROM fps
  GROUP BY fp HAVING count(DISTINCT doc_id) >= {PASSAGE_MIN_DF}
),
cuts AS (
  SELECT o.doc_id, o.pos FROM fps o JOIN sh s ON o.fp = s.fp AND o.doc_id != s.winner
),
cov AS (
  SELECT DISTINCT c.doc_id, c.pos + t.j AS idx
  FROM cuts c, unnest(range(0, {WINNOW_K})) AS t(j), docs_t d
  WHERE d.doc_id = c.doc_id AND c.pos + t.j < len(d.w)
),
spans AS (
  SELECT doc_id,
         sum(CASE WHEN prev IS NULL OR idx - prev != 1 THEN 1 ELSE 0 END)::BIGINT AS n_spans,
         count(*)::BIGINT AS n_removed
  FROM (SELECT doc_id, idx,
               lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) AS prev FROM cov)
  GROUP BY doc_id
),
toks AS (
  SELECT doc_id, unnest(range(0, len(w))) AS idx, unnest(w) AS tok FROM docs_t
),
keptxt AS (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.idx) AS ct
  FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.idx = t.idx
  WHERE cov.idx IS NULL GROUP BY t.doc_id
)
SELECT d.doc_id, len(d.w)::BIGINT AS n_tokens,
       coalesce(s.n_removed, 0)::BIGINT AS n_removed,
       (len(d.w) - coalesce(s.n_removed, 0))::BIGINT AS n_kept,
       coalesce(s.n_spans, 0)::BIGINT AS n_spans,
       {_charfold_sql("coalesce(k.ct, '')")} AS clean_hash
FROM docs_t d LEFT JOIN spans s USING (doc_id) LEFT JOIN keptxt k USING (doc_id)
"""


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p50/p90/p99 of event value per type) — the
    distribution-profiling step every pipeline runs before thresholding
    (outlier cuts, SLA targets).  Spark's ``percentile`` is the exact
    linear-interpolation aggregate (index p·(n−1) over the sorted group),
    the same definition as DuckDB's ``quantile_cont``; round-6 absorbs
    engine ulps per the oracle determinism rules.  One shuffle on the group
    key with partial aggregation; at 100 TB swap in approx_percentile
    (t-digest) for a one-pass mergeable sketch — same query shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


SQL_EVENTS_PERCENTILES = """
SELECT event_type, count(value) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


KMV_K = 64


def q_sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per event type —
    a DETERMINISTIC cardinality sketch: unlike HLL registers (engine-
    specific), the k smallest char-fold hash values are identical in any
    engine, so the sketch estimate itself hash-matches the oracle.

    Plan: distinct (type, hash) → per-group k-th smallest via window →
    estimate (k−1)·M / kth.  The distinct shuffle is bounded by true
    cardinality; at corpus scale the same sketch merges monotonically
    (union of k-min sets) across partitions/days — the property KMV is
    chosen for.  Groups with < k distinct users fall back to their exact
    count (the standard small-set rule)."""
    from simsearch_spark.functions.text import char_fold_hash
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    h = char_fold_hash(F.col("user_id").cast("string"))
    d = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    ranked = d.withColumn("rn", F.row_number().over(w))
    kth = ranked.where(F.col("rn") == KMV_K).select("event_type", F.col("h").alias("kth"))
    exact = ranked.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_hashes"))
    est = F.round(F.lit(float(KMV_K - 1)) * F.lit(float(MOD)) / F.col("kth").cast("double"), 4)
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            F.coalesce(F.col("kth"), F.lit(-1)).alias("kth_hash"),
            F.coalesce(est, F.col("n_hashes").cast("double")).alias("est_users"),
        )
    )


SQL_SKETCH_DISTINCT_USERS = f"""
WITH d AS (
  SELECT DISTINCT event_type, {_charfold_sql("user_id::VARCHAR")} AS h FROM events
), r AS (
  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM d
), kth AS (
  SELECT event_type, h AS kth FROM r WHERE rn = {KMV_K}
), exact AS (
  SELECT event_type, count(*) AS n_hashes FROM d GROUP BY event_type
)
SELECT e.event_type,
       coalesce(k.kth, -1) AS kth_hash,
       coalesce(round({KMV_K - 1}.0 * {MOD}.0 / k.kth::DOUBLE, 4), e.n_hashes::DOUBLE) AS est_users
FROM exact e LEFT JOIN kth k ON e.event_type = k.event_type
"""


RANGE_W_US = 30 * 60 * 1_000_000  # 30-minute lookback window


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: clicks by the same user within [ts − 30 min, ts] of
    each purchase, counted per purchase.  Spark has no native range join, so
    this is the bucketed pattern: bucket the right side by window width,
    explode each left row into its two candidate buckets, equi-join on
    (user, bucket), then apply the exact range predicate — a key-partitioned
    shuffle join, never a BroadcastNestedLoopJoin theta join (plan-tested).
    Each right row matches from exactly one bucket, so no double counting;
    purchases with no clicks keep count 0 via the left join."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_uid"),
        F.unix_micros("ts").alias("p_us"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.unix_micros("ts").alias("c_us"),
    ).withColumn("c_bkt", F.floor(F.col("c_us") / RANGE_W_US))
    pb = p.withColumn(
        "p_bkt",
        F.explode(
            F.array(F.floor(F.col("p_us") / RANGE_W_US) - 1, F.floor(F.col("p_us") / RANGE_W_US))
        ),
    )
    cond = (
        (pb["p_uid"] == c["c_uid"])
        & (pb["p_bkt"] == c["c_bkt"])
        & (c["c_us"] >= pb["p_us"] - RANGE_W_US)
        & (c["c_us"] <= pb["p_us"])
    )
    return (
        pb.join(c, cond, "left")
        .groupBy(F.col("p_id").alias("event_id"), F.col("p_uid").alias("user_id"))
        .agg(F.count("c_us").alias("n_clicks_30m"))
    )


# Range boundaries in integer µs (epoch_ns//1000), matching Spark's p_us/c_us
# ints — a raw-timestamp BETWEEN flips at boundaries when DuckDB keeps ns
# precision that Spark's µs view floors away.
SQL_EVENTS_RANGE_JOIN = f"""
SELECT p.event_id, p.user_id, count(c.event_id) AS n_clicks_30m
FROM events p LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND epoch_ns(c.ts) // 1000 BETWEEN epoch_ns(p.ts) // 1000 - {RANGE_W_US} AND epoch_ns(p.ts) // 1000
WHERE p.event_type = 'purchase'
GROUP BY 1, 2
"""


# json_valid guard: DuckDB's ->> RAISES on malformed JSON while Spark's
# get_json_object returns NULL — a regenerated fixture with one bad props
# row must skip it in both engines, not crash the oracle
SQL_EVENTS_PROPS_STATS = """
WITH j AS (
  SELECT value,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN CAST(props->>'$.k' AS BIGINT) END AS k
  FROM events
)
SELECT k % 10 AS k_bucket, count(*) AS n, round(avg(value), 4) AS avg_value
FROM j WHERE k IS NOT NULL
GROUP BY 1
"""


# Integer-µs oracle: epoch_ns(ts) // 1000 == Spark's unix_micros view under
# BOTH DuckDB timestamp behaviors (1.0 truncates ns→µs at read; newer keeps
# ns and the floor-div truncates here).  Ordering is (tus, event_id) — never
# raw ts, whose ns-resolution tie-break can differ from the µs view.
SQL_EVENTS_SESSIONIZE = f"""
WITH ordered AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_id,
         lag(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), flagged AS (
  SELECT user_id, event_id,
         CASE WHEN prev IS NULL OR tus - prev > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_session
  FROM ordered
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id
"""


PIPELINE_QUERIES = {
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_append_mounted": (q_dedup_append_mounted, SQL_DEDUP_APPEND_MOUNTED),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_apply": (q_dedup_apply, SQL_DEDUP_APPLY),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_embed_cosine": (q_dedup_embed_cosine, SQL_DEDUP_EMBED_COSINE),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
    "text_lang_id": (q_text_lang_id, SQL_TEXT_LANG_ID),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "events_sessionize_segmented": (q_events_sessionize_segmented, SQL_EVENTS_SESSIONIZE),
    "events_asof_click": (q_events_asof_click, SQL_EVENTS_ASOF_CLICK),
    "events_props_stats": (q_events_props_stats, SQL_EVENTS_PROPS_STATS),
    "events_range_join": (q_events_range_join, SQL_EVENTS_RANGE_JOIN),
    "events_rollup_multi": (q_events_rollup_multi, SQL_EVENTS_ROLLUP_MULTI),
    "events_percentiles": (q_events_percentiles, SQL_EVENTS_PERCENTILES),
    "doc_winnow": (q_doc_winnow, SQL_DOC_WINNOW),
    "winnow_overlap": (q_winnow_overlap, SQL_WINNOW_OVERLAP),
    "passage_removal": (q_passage_removal, SQL_PASSAGE_REMOVAL),
    "sketch_distinct_users": (q_sketch_distinct_users, SQL_SKETCH_DISTINCT_USERS),
}
