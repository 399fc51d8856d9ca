"""Training-corpus preparation query pack (beyond-reference LLM-pipeline
operators): Gopher-style repetition profiling, deterministic hash-based
train/validation/test splits, fixed-size token chunking with overlap,
PII-style redaction, and inverted-index term statistics.

These extend the documents-table text analysis in plans/textops.py with the
operations a large-scale training-data pipeline runs between "raw corpus"
and "tokenizer input". Every query is a pure DataFrame plan (no Python
UDFs) so the wordcount-shaped shuffles keep map-side partial aggregation at
100 TB, and every query carries an exact DuckDB oracle.

Repetition thresholds follow the published Gopher data-quality rules
(Rae et al. 2021, "Scaling Language Models", table A1): fraction of
duplicate tokens and fraction of characters in the most frequent n-gram.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..checkpointing import stage_checkpoint
from ..functions.text import tokens, word_shingles

from .registry import query

#: Tag separator for the single-pass unigram/bigram frequency explode.
#: \x01 cannot appear in whitespace-split tokens.
_TAG_U = "u\x01"
_TAG_B = "b\x01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Gopher-style repetition profile: duplicate-token fraction, most-frequent
# unigram/bigram fraction. One explode of a tagged (unigram ∪ bigram) array
# → one wordcount-shaped groupBy pair; both aggregations are partial-agg
# friendly so the plan is a straight map-combine-reduce at any scale.
# ---------------------------------------------------------------------------

REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
base AS (
  SELECT doc_id, toks, len(toks) AS n_tok, len(list_distinct(toks)) AS n_uni,
         [toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks)-1)] AS bi
  FROM t
),
uc AS (
  SELECT doc_id, MAX(c) AS top_uni FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(toks) AS tok FROM base) GROUP BY 1, 2
  ) GROUP BY 1
),
bc AS (
  SELECT doc_id, MAX(c) AS top_bi FROM (
    SELECT doc_id, bg, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bi) AS bg FROM base) GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT b.doc_id,
       CAST(b.n_tok AS BIGINT) AS n_tokens,
       CAST(b.n_tok - b.n_uni AS DOUBLE) / b.n_tok AS dup_token_frac,
       CAST(uc.top_uni AS DOUBLE) / b.n_tok AS top_token_frac,
       CASE WHEN b.n_tok > 1 THEN CAST(bc.top_bi AS DOUBLE) / (b.n_tok - 1)
            ELSE 0.0 END AS top_bigram_frac
FROM base b
JOIN uc USING (doc_id)
LEFT JOIN bc USING (doc_id)
"""


@query("repetition_profile", survey="llm-quality,A5,A7", oracle=REPETITION_ORACLE, headline=True)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition features for quality filtering (Gopher A1).

    Single pass: unigrams and bigrams are tagged and exploded together, so
    one (doc_id, gram) count covers token totals, distinct counts, and both
    mode frequencies — no join between two explode branches.
    """
    # Single-file parquet reads as ONE partition; spread the CPU-heavy
    # explode across the cluster before it starts (no-op cost at scale,
    # where the input already has many splits).
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = tokens(F.col("text"))
    bi = word_shingles(F.col("text"), 2)
    tagged = F.concat(
        F.transform(toks, lambda t: F.concat(F.lit(_TAG_U), t)),
        F.transform(bi, lambda b: F.concat(F.lit(_TAG_B), b)),
    )
    grams = d.select("doc_id", F.explode(tagged).alias("g"))
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    is_u = F.col("g").startswith(_TAG_U)
    prof = counts.groupBy("doc_id").agg(
        F.sum(F.when(is_u, F.col("c"))).cast("long").alias("n_tokens"),
        F.count(F.when(is_u, F.lit(1))).cast("long").alias("n_unique"),
        F.max(F.when(is_u, F.col("c"))).alias("top_uni"),
        F.max(F.when(~is_u, F.col("c"))).alias("top_bi"),
    )
    n_tok = F.col("n_tokens")
    return prof.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ((n_tok - F.col("n_unique")).cast("double") / n_tok).alias("dup_token_frac"),
        (F.col("top_uni").cast("double") / n_tok).alias("top_token_frac"),
        F.when(n_tok > 1, F.col("top_bi").cast("double") / (n_tok - 1))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash split: md5(doc_id) → bucket 0..99 → train/val/test.
# Pure map + tiny aggregation — the split assignment never shuffles and is
# reproducible across engines, runs, and cluster sizes (no RNG state).
# The split/chunk expressions below are shared by hash_split_mixture,
# doc_chunks, and corpus_train_shards — one definition per engine, so the
# Spark and DuckDB twins cannot drift apart per query.
# ---------------------------------------------------------------------------

#: SQL twin of _split_col: 15 hex digits of md5 fit a signed 64-bit int.
SPLIT_SQL = """CASE WHEN ('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
              WHEN ('0x' || substr(md5(CAST({id} AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'validation'
              ELSE 'test' END"""


def _split_col(id_col: str) -> Column:
    """80/10/10 content-independent split from md5 of the id."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
    )


def _chunk_count(n_tok: Column) -> Column:
    """Closed-form 64/48 chunk count: 1 + ceil(max(n_tok - CHUNK, 0) / STRIDE)."""
    extra = F.greatest(n_tok - _CHUNK, F.lit(0))
    return (F.lit(1) + F.floor((extra + (_STRIDE - 1)) / F.lit(float(_STRIDE)))).cast("int")


HASH_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT lang, text,
         {SPLIT_SQL.format(id="doc_id")} AS split
  FROM documents
)
SELECT split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_word_tokens
FROM b
GROUP BY 1, 2
"""


@query("hash_split_mixture", survey="llm-split,A1,A5", oracle=HASH_SPLIT_ORACLE)
def hash_split_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 deterministic split by md5(doc_id), with per-(split, lang)
    document and token totals — the reproducible train/val/test assignment
    a training pipeline needs (content-independent, so dedup upstream of
    the split cannot move a document between splits)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            _split_col("doc_id").alias("split"),
            "lang",
            F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("long").alias("wt"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("wt").cast("long").alias("total_word_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-size token chunking with overlap (context-window packing prep):
# chunk_size=64 tokens, stride=48 (16-token overlap). Explode of a generated
# index range — no UDF, no driver loop; each output row carries a content
# fingerprint so the oracle checks chunk CONTENT, not just counts.
# ---------------------------------------------------------------------------

_CHUNK = 64
_STRIDE = 48

DOC_CHUNKS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
n AS (
  SELECT doc_id, toks,
         CAST(1 + floor((greatest(len(toks) - {_CHUNK}, 0) + {_STRIDE - 1}) / {_STRIDE}.0) AS INT)
           AS nc
  FROM t
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(toks[i * {_STRIDE} + 1 : i * {_STRIDE} + {_CHUNK}], ' ')) AS chunk_fp
FROM (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS i FROM n)
"""


@query("doc_chunks", survey="llm-chunking,P1,UDTF", oracle=DOC_CHUNKS_ORACLE, headline=True)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks (64-token windows, 48-token stride).

    The chunk count is closed-form from the token count, so the plan is
    generate-sequence → explode → slice: embarrassingly parallel, zero
    shuffle, and the md5 fingerprint pins the exact chunk content for the
    oracle without shipping chunk text through the comparator.
    """
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    nc = _chunk_count(F.size(F.col("toks")))
    with_idx = base.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), nc - 1)).alias("chunk_idx")
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * _STRIDE + 1, F.lit(_CHUNK))
    return with_idx.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# PII-style redaction. The synthetic corpus carries no real contact data, so
# the query derives a deterministic contact blob from integer customer keys
# (integer→string casts are engine-portable; float formatting is not) and
# then redacts it — the deliverable is the redaction expression chain:
# email → phone → residual long digit runs, with per-stage match counts.
# All three patterns are RE2∩Java-safe (no lookahead, no backrefs).
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
_NUM_RE = "[0-9]{5,}"

PII_REDACT_ORACLE = f"""
WITH blob AS (
  SELECT c_custkey,
         c_name || ' reachable at user' || CAST(c_custkey AS VARCHAR)
                || '@example.com or +1-555-'
                || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                || ' ref ' || CAST(c_custkey * 7919 + 104729 AS VARCHAR) AS s
  FROM customer
),
s1 AS (SELECT c_custkey, s, regexp_replace(s, '{_EMAIL_RE}', '[EMAIL]', 'g') AS r1 FROM blob),
s2 AS (SELECT *, regexp_replace(r1, '{_PHONE_RE}', '[PHONE]', 'g') AS r2 FROM s1)
SELECT c_custkey,
       regexp_replace(r2, '{_NUM_RE}', '[NUM]', 'g') AS redacted,
       CAST(len(regexp_extract_all(s, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(r1, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(r2, '{_NUM_RE}')) AS BIGINT) AS n_nums
FROM s2
"""


@query("pii_redaction", survey="llm-pii,F18,P1", oracle=PII_REDACT_ORACLE)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged PII scrubbing (emails → phones → long digit runs) with match
    counts per stage. Pure regexp_replace chain: JVM-side, whole-stage
    codegen, no shuffle — at 100 TB this is a map-only scan."""
    c = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("long")
    blob = F.concat(
        F.col("c_name"),
        F.lit(" reachable at user"),
        key.cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        (key * 7919 + 104729).cast("string"),
    )
    s0 = c.select("c_custkey", blob.alias("s"))
    s1 = s0.withColumn("r1", F.regexp_replace("s", _EMAIL_RE, "[EMAIL]"))
    s2 = s1.withColumn("r2", F.regexp_replace("r1", _PHONE_RE, "[PHONE]"))
    return s2.select(
        "c_custkey",
        F.regexp_replace("r2", _NUM_RE, "[NUM]").alias("redacted"),
        F.regexp_count(F.col("s"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("r1"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("r2"), F.lit(_NUM_RE)).cast("long").alias("n_nums"),
    )


# ---------------------------------------------------------------------------
# Inverted-index term statistics: collection frequency, document frequency,
# max within-doc TF — the two-level aggregation (term,doc → term) keeps both
# shuffles partial-agg combinable (no countDistinct expand). Top-20 under a
# total tie-break order so the limit boundary is engine-deterministic.
# ---------------------------------------------------------------------------

TERM_DF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents
),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
)
SELECT term,
       CAST(SUM(tf) AS BIGINT) AS collection_tf,
       CAST(COUNT(*) AS BIGINT) AS doc_freq,
       CAST(MAX(tf) AS BIGINT) AS max_tf
FROM tf
GROUP BY term
ORDER BY collection_tf DESC, term
LIMIT 20
"""


@query("term_doc_frequency", survey="llm-index,A5,O1", oracle=TERM_DF_ORACLE, headline=True)
def term_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms by collection frequency with document frequency
    and max per-doc TF (the inverted-index posting-list statistics).
    Two-level groupBy instead of countDistinct keeps the plan free of an
    Expand operator and both exchanges map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    # r15 (guide §2.4): one hash(term) exchange feeds BOTH aggregation
    # levels — (term, doc_id) and term — instead of a partial-agg
    # exchange per level; the second level was a full extra pass of the
    # tf relation through the shuffle machinery for the same clustering.
    # (The exchange doubles as the parallelism spread the explode's
    # single-split local scan needs downstream.)
    # r16 (verdict item 7): KEYED-ONLY repartition — the pinned
    # defaultParallelism count was a local-mode constant that also
    # blocked AQE from sizing this exchange on a cluster; with the
    # session's shuffle.partitions the local plan is unchanged, and the
    # interleaved min-of-5 A/B measured neutral-or-better (0.654 s vs
    # 0.680 s min), results identical.
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term")).repartition(
        "term"
    )
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("collection_tf"),
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        .orderBy(F.desc("collection_tf"), F.asc("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus mixture rebalancing: deterministic downsampling toward a uniform
# per-language target (the domain-reweighting step of training-data prep).
# Selection = md5 bucket vs a per-language keep threshold computed from the
# actual counts, so the sample is reproducible and content-independent:
# re-running on a grown corpus keeps previously-selected documents stable
# within unchanged languages. Docs flow map-only (counts broadcast back).
# ---------------------------------------------------------------------------

MIXTURE_ORACLE = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
),
tot AS (
  SELECT SUM(n_lang) AS n_total, COUNT(*) AS n_langs FROM counts
),
thresh AS (
  SELECT c.lang, c.n_lang,
         CAST(floor(10000 * least(1.0,
              (CAST(t.n_total AS DOUBLE) / t.n_langs) / c.n_lang)) AS BIGINT) AS keep_bucket
  FROM counts c CROSS JOIN tot t
),
kept AS (
  SELECT d.lang,
         CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                   < th.keep_bucket THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN thresh th USING (lang)
)
SELECT k.lang,
       CAST(th.n_lang AS BIGINT) AS n_before,
       CAST(SUM(k.keep) AS BIGINT) AS n_kept,
       CAST(th.keep_bucket AS BIGINT) AS keep_bucket
FROM kept k JOIN thresh th USING (lang)
GROUP BY k.lang, th.n_lang, th.keep_bucket
"""


@query("corpus_mixture_sample", survey="llm-mixture,A1,J1", oracle=MIXTURE_ORACLE)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the language mixture by deterministic hash sampling toward
    uniform shares. The per-language thresholds come from a tiny aggregate
    that is broadcast back onto the corpus — documents themselves never
    shuffle, so at 100 TB this is one scan + one broadcast join."""
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = counts.agg(
        F.sum("n_lang").alias("n_total"), F.count(F.lit(1)).alias("n_langs")
    )
    thresh = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_lang",
        F.floor(
            10000
            * F.least(
                F.lit(1.0),
                (F.col("n_total").cast("double") / F.col("n_langs")) / F.col("n_lang"),
            )
        )
        .cast("long")
        .alias("keep_bucket"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % 10000
    )
    kept = d.join(F.broadcast(thresh), "lang").select(
        "lang",
        "n_lang",
        "keep_bucket",
        F.when(bucket < F.col("keep_bucket"), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )
    return kept.groupBy("lang", "n_lang", "keep_bucket").agg(
        F.sum("keep").cast("long").alias("n_kept")
    ).select(
        "lang",
        F.col("n_lang").cast("long").alias("n_before"),
        "n_kept",
        F.col("keep_bucket").cast("long").alias("keep_bucket"),
    )


_SOURCE_CAP = 5

SOURCE_CAP_ORACLE = rf"""
WITH scored AS (
  SELECT source, lang, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source, lang
                               ORDER BY n_tok DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT source, lang, doc_id, n_tok, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {_SOURCE_CAP}
"""


@query("source_cap_sample", survey="llm-mixture,W1", oracle=SOURCE_CAP_ORACLE)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (new r7) — the RefinedWeb/C4 per-domain
    cap: keep at most N documents per (source, lang), preferring the
    longest documents with doc_id as the deterministic tie-break. The
    quality-priority rank is ONE window over the (source, lang) hash
    partitioning — no global sort, no join; at 100 TB the cap is the
    standard guard against a single crawler domain dominating the
    mixture. Output is cap-bounded (≤ N rows per group), so the result
    stays constant-size as the corpus grows."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source", "lang").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    )
    return (
        d.select(
            "source",
            "lang",
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _SOURCE_CAP)
    )


# ---------------------------------------------------------------------------
# Weighted corpus sampling (integer-weight replicated-hash bottom-k): each
# document gets w deterministic md5 "tickets"; its selection key is the
# minimum ticket, and the sample is the k smallest keys. Inclusion
# probability rises monotonically with w (P = 1-(1-p)^w over the hash
# space), giving a length/quality-weighted mixture draw that is
# INTEGER-EXACT and engine-portable — no ln()/pow() order-statistics
# (Efraimidis-Spirakis keys need floating-point transcendentals no two
# engines bit-agree on).
# ---------------------------------------------------------------------------

_WSAMPLE_K = 50

WEIGHTED_SAMPLE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, LEAST(8, GREATEST(1, 1 + COALESCE(n_chars, 0) // 400)) AS w FROM documents
),
keys AS (
  SELECT w.doc_id, w.w,
         MIN(('0x' || substr(md5(j.j::VARCHAR || ':' || w.doc_id::VARCHAR),
                             1, 15))::BIGINT) AS skey
  FROM w, LATERAL (SELECT unnest(range(1, w.w + 1)) AS j) j
  GROUP BY 1, 2
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(w AS INTEGER) AS w,
       CAST(skey AS BIGINT) AS skey
FROM keys ORDER BY skey, doc_id LIMIT {_WSAMPLE_K}
"""


@query("weighted_doc_sample", survey="llm-mixture,O1", oracle=WEIGHTED_SAMPLE_ORACLE)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sample of the corpus (new r13): documents
    draw w = clamp(1 + n_chars/400, 1..8) replicated md5 tickets and the
    k smallest minimum-tickets win — the mixture-sampling primitive for
    "sample training docs proportionally to quality/length" that stays
    bit-portable across engines (integer hashes only; the classic
    exp/ln order-statistics keys are not cross-engine reproducible).

    Physical shape is the scale story: the ticket array and its min are
    ONE map-side projection (``transform`` over ``sequence(1, w)`` —
    no explode, no shuffle), and the global bottom-k plans as
    TakeOrderedAndProject (per-partition top-k, one k-row merge) — the
    same no-global-sort shape as ``kmv_bottomk``. At 100 TB the sample
    costs one corpus scan plus a k-row reduce. That zero-exchange shape
    holds for k below ``session.TOPK_SORT_FALLBACK`` (10**6; this query's
    k is 50); a k at or above it plans as a sort plus limit, which spills
    rather than reserving a 2k-slot buffer per task. Since r14 the draw
    is the shared :func:`~...operators.corpus.weighted_sample` operator — the
    same machinery ``clean_corpus(sample_k=…)`` exposes as an engine
    knob."""
    from ..operators.corpus import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d, "doc_id", _WSAMPLE_K, _wsample_weight(), strata=None
    ).select("doc_id", "w", "skey")


STRATIFIED_WSAMPLE_ORACLE = """
WITH w AS (
  SELECT doc_id, lang, LEAST(8, GREATEST(1, 1 + COALESCE(n_chars, 0) // 400)) AS w
  FROM documents
),
keys AS (
  SELECT w.doc_id, w.lang, w.w,
         MIN(('0x' || substr(md5(j.j::VARCHAR || ':' || w.doc_id::VARCHAR),
                             1, 15))::BIGINT) AS skey
  FROM w, LATERAL (SELECT unnest(range(1, w.w + 1)) AS j) j
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT lang, doc_id, w, skey,
         row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rk
  FROM keys
)
SELECT lang,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(w AS INTEGER) AS w,
       CAST(skey AS BIGINT) AS skey,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 10 ORDER BY lang, rk
"""


@query(
    "stratified_weighted_sample",
    survey="llm-mixture,W1",
    oracle=STRATIFIED_WSAMPLE_ORACLE,
)
def stratified_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample (new r13) — the STRATIFIED twin of
    ``weighted_doc_sample``: the same integer replicated-ticket keys,
    but the k smallest are taken PER LANGUAGE via one window over the
    (lang) hash partitioning — the mixture construction "n docs per
    language, drawn proportionally to length/quality" that a training
    recipe actually specifies. Same portability argument (integer md5
    tickets, no transcendental order-statistics); physical shape is one
    map-side projection + ONE partitioned window — no global sort, and
    the per-group output bound keeps the result constant-size as the
    corpus grows. Since r14 the draw is the shared
    :func:`~...operators.corpus.weighted_sample` operator — the same
    machinery ``clean_corpus(sample_k=…, sample_strata=…)`` exposes as
    an engine knob."""
    from ..operators.corpus import weighted_sample

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return (
        weighted_sample(d, "doc_id", 10, _wsample_weight(), strata=["lang"])
        .select("lang", "doc_id", "w", "skey", "rk")
        .orderBy("lang", "rk")
    )


def _wsample_weight() -> Column:
    """The registered sampler queries' mixture weight: documents draw
    clamp(1 + n_chars/400, 1..8) tickets — length-proportional with a
    cap, NULL n_chars counted as empty."""
    return F.least(
        F.lit(8),
        F.greatest(
            F.lit(1), (F.lit(1) + F.floor(F.coalesce(F.col("n_chars"), F.lit(0)) / 400))
        ),
    ).cast("int")


# ---------------------------------------------------------------------------
# Sequence-packing statistics: greedy shard-local packing of documents into
# fixed 512-token training bins (cumulative token count over a deterministic
# doc order → bin id). Packing stays WITHIN (lang, source) shards so the
# window never needs a global sort — the partition key is the shard, which
# is how a 1000-executor packing job would actually run.
# ---------------------------------------------------------------------------

_BIN_TOKENS = 512

SEQ_PACK_ORACLE = f"""
WITH toks AS (
  SELECT lang, source, doc_id,
         len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tok
  FROM documents
),
binned AS (
  SELECT lang, source, n_tok,
         CAST(floor(COALESCE(SUM(n_tok) OVER (
             PARTITION BY lang, source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_BIN_TOKENS}.0) AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, source, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tok) AS DOUBLE) / {_BIN_TOKENS} AS fill_frac
FROM binned
GROUP BY lang, source, bin_id
"""


@query("sequence_packing", survey="llm-packing,W1,A1", oracle=SEQ_PACK_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token bins per (lang, source) shard and
    report per-bin document counts and fill. One exchange total: the
    window's hash(lang, source) partitioning already satisfies the final
    groupBy's clustering requirement."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    n_tok = F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("long")
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = d.select(
        "lang",
        "source",
        n_tok.alias("n_tok"),
        F.floor(F.coalesce(F.sum(n_tok).over(w), F.lit(0)) / float(_BIN_TOKENS))
        .cast("long")
        .alias("bin_id"),
    )
    return binned.groupBy("lang", "source", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        (F.sum("n_tok").cast("double") / _BIN_TOKENS).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination: per-document fraction of 5-gram shingles that
# also occur in ANY other document (the published n-gram-overlap
# contamination check used to scrub benchmark text from training corpora).
# Ubiquitous shingles (doc_freq > cap) are excluded — boilerplate phrases
# are not contamination evidence. Wordcount-shaped: explode distinct
# shingles → doc_freq → semi-join back; every stage partial-agg friendly.
# ---------------------------------------------------------------------------

_CONTAM_N = 5
_CONTAM_DF_CAP = 100

CONTAMINATION_ORACLE = rf"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           [ array_to_string(toks[i : i + {_CONTAM_N - 1}], ' ')
             FOR i IN generate_series(1, len(toks) - {_CONTAM_N - 1}) ])) AS g
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents)
),
df AS (
  SELECT g, COUNT(*) AS doc_freq FROM sh GROUP BY g
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
),
shared AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN df ON s.g = df.g
  WHERE df.doc_freq >= 2 AND df.doc_freq <= {_CONTAM_DF_CAP}
  GROUP BY s.doc_id
)
SELECT t.doc_id,
       CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(COALESCE(sh2.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(COALESCE(sh2.n_shared, 0) AS DOUBLE) / t.n_shingles AS shared_frac
FROM tot t LEFT JOIN shared sh2 ON t.doc_id = sh2.doc_id
"""


@query("contamination_overlap", survey="llm-decontam,A5,J1", oracle=CONTAMINATION_ORACLE)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram overlap with the rest of the corpus (the
    decontamination signal: a high shared fraction means the document's
    content appears elsewhere — an eval-set leak or a near-dup).

    Only documents long enough to have 5-grams appear (shorter docs carry
    no n-gram evidence either way). The doc_freq table is shingle-keyed
    and much smaller than the exploded relation; at 100 TB the join back
    stays a shuffle join on the shingle key with the df cap applied
    before the join (the high-frequency tail never re-joins).
    """
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), _CONTAM_N))).alias("g"),
    )
    df_g = sh.groupBy("g").agg(F.count(F.lit(1)).alias("doc_freq"))
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        sh.join(
            df_g.filter((F.col("doc_freq") >= 2) & (F.col("doc_freq") <= _CONTAM_DF_CAP)),
            "g",
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(shared, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        (
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("double") / F.col("n_shingles")
        ).alias("shared_frac"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. The idf factor is kept as the exact
# rational n_docs/doc_freq instead of its logarithm: log() is the one
# common scoring primitive whose last bit differs between libm builds, and
# ranking by tf·N/df orders identically to tf·(1+log(N/df)) for fixed tf
# monotonicity needs while making the score bit-portable across engines
# (one integer product + one correctly-rounded IEEE division).
# ---------------------------------------------------------------------------

TFIDF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents
),
tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.doc_freq AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM s
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
       CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq, score
FROM r WHERE rnk <= 3
"""


@query("tfidf_top_terms", survey="llm-index,A5,W2,O1", oracle=TFIDF_ORACLE, headline=True)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by rational TF-IDF.

    Wordcount-shaped: tf shuffles on (term, doc_id), df reduces the tf
    relation on term (both map-side combinable), the df table joins back on
    the term key, and one window on doc_id takes the per-doc top-3 with a
    total (score desc, term asc) order. At 100 TB the df join is a plain
    shuffle join on term — the df side is vocabulary-sized, orders of
    magnitude smaller than the exploded token relation.
    """
    # r16 (verdict item 7): keyed-only repartitions — see
    # term_doc_frequency; A/B min 0.973 s vs 1.042 s, results identical.
    d = _t(spark, sf_dir, "documents").repartition("doc_id")
    n_docs = d.groupBy().agg(F.count(F.lit(1)).alias("n_docs"))
    # r15 (guide §2.4 "two operations keyed the same way share one
    # exchange"): establish hash(term) ONCE on the exploded tokens; the
    # (term, doc_id) aggregate, the doc-frequency count, and their
    # recombination all reuse that clustering with ZERO further
    # exchanges — doc_freq becomes a window count over the same
    # partitioning instead of a separate aggregate joined back (the
    # former shape slammed the full tf relation through a second
    # instance-scale exchange to meet the vocabulary table on `term`).
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term")).repartition(
        "term"
    )
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    scored = (
        tf.withColumn("doc_freq", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("doc_freq"))
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            F.col("rnk").cast("long").alias("rnk"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            "score",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end training shards: the full corpus→tokenizer-input path as ONE
# lazy plan — quality gate → exact dedup → MinHash near-dup removal (the
# clean_corpus operator) → deterministic hash split → 64/48 token chunking
# → 512-token bin packing per (split, lang) shard. Composes the already-
# oracled stages, so the DuckDB twin re-states each stage exactly (near-dup
# as exact all-pairs trigram Jaccard, which MinHash-LSH matches at recall
# 1.0 on these corpora). Chunk token counts are closed-form from the doc
# token count (min(CHUNK, n_tok - i*STRIDE)), so no chunk text ever
# materializes — the whole post-clean tail is arithmetic on (doc_id,
# n_tok): a map-side explode plus ONE exchange, because the packing
# window's hash(split, lang) partitioning already satisfies the final
# groupBy's clustering.
# ---------------------------------------------------------------------------

from .textops import CLEAN_SURVIVORS_CTES as _CLEAN_CTES

CORPUS_SHARDS_ORACLE = f"""
WITH {_CLEAN_CTES},
sp AS (
  SELECT doc_id, lang, n_tokens AS n_tok,
         {SPLIT_SQL.format(id="doc_id")} AS split
  FROM survivors
),
ch AS (
  SELECT split, lang, doc_id, i AS chunk_idx,
         least({_CHUNK}, n_tok - i * {_STRIDE}) AS n_chunk_tokens
  FROM (SELECT *, unnest(generate_series(0, nc - 1)) AS i
        FROM (SELECT *,
                     CAST(1 + floor((greatest(n_tok - {_CHUNK}, 0) + {_STRIDE - 1})
                                    / {_STRIDE}.0) AS INT) AS nc
              FROM sp))
),
binned AS (
  SELECT split, lang, n_chunk_tokens,
         CAST(floor(COALESCE(SUM(n_chunk_tokens) OVER (
             PARTITION BY split, lang ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_BIN_TOKENS}.0) AS BIGINT) AS bin_id
  FROM ch
)
SELECT split, lang, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chunk_tokens) AS DOUBLE) / {_BIN_TOKENS} AS fill_frac
FROM binned
GROUP BY 1, 2, 3
"""


@query(
    "corpus_train_shards",
    survey="llm-pipeline-e2e,llm-split,llm-chunking,llm-packing",
    oracle=CORPUS_SHARDS_ORACLE,
)
def corpus_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean corpus → hash split → token chunks → packed 512-token bins,
    reported per (split, lang, bin). The single plan a training pipeline
    runs nightly: every upstream stage keeps its own scale shape (blocked
    near-dup, content-independent split), and the shard tail adds exactly
    one exchange on (split, lang)."""
    from ..operators.corpus import clean_corpus

    d = _t(spark, sf_dir, "documents")
    clean = clean_corpus(d).select("doc_id", "lang", F.col("n_tokens").alias("n_tok"))
    sp = clean.select("doc_id", "lang", "n_tok", _split_col("doc_id").alias("split"))
    nc = _chunk_count(F.col("n_tok"))
    ch = sp.select(
        "split",
        "lang",
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), nc - 1)).alias("chunk_idx"),
    ).select(
        "split",
        "lang",
        "doc_id",
        "chunk_idx",
        F.least(F.lit(_CHUNK), F.col("n_tok") - F.col("chunk_idx") * _STRIDE)
        .cast("long")
        .alias("n_chunk_tokens"),
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = ch.select(
        "split",
        "lang",
        "n_chunk_tokens",
        F.floor(F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0)) / float(_BIN_TOKENS))
        .cast("long")
        .alias("bin_id"),
    )
    return binned.groupBy("split", "lang", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
        (F.sum("n_chunk_tokens").cast("double") / _BIN_TOKENS).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters: the frequent-items member of the sketch family
# (HLL++ distinct / GK quantiles live in sketch_profile). Raw estimates are
# partition-layout-dependent (like any MG summary), but the MG guarantee
#   true - N/(k+1) <= est <= true
# holds under ANY partitioning, so the contract — checked over the exact
# top-10 tokens — is a constant verdict row the driver can hash-compare.
# The (true-est)*(k+1) <= N form keeps the bound check in exact integers.
# ---------------------------------------------------------------------------

_HH_K = 64

HEAVY_HITTERS_ORACLE = f"""
SELECT CAST(10 AS BIGINT) AS n_checked,
       {_HH_K} AS k,
       TRUE AS never_overcounts,
       TRUE AS within_bound
"""


@query("heavy_hitters_sketch", survey="sketch-heavy-hitters,A5", oracle=HEAVY_HITTERS_ORACLE)
def heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-bound contract for the Misra-Gries token heavy-hitter sketch
    (k=64 counters/partition; ≤ k rows per partition shuffle instead of
    the full term relation — the 100 TB path when even (term, count) is
    too large to shuffle)."""
    from ..operators.heavyhitters import heavy_hitters

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = d.select(tokens(F.col("text")).alias("toks"))
    sketch = heavy_hitters(toks, "toks", k=_HH_K)
    exact = (
        toks.select(F.explode("toks").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    )
    total = exact.agg(F.sum("true_cnt").cast("long").alias("n_total"))
    top10 = exact.orderBy(F.desc("true_cnt"), F.asc("item")).limit(10)
    joined = (
        top10.join(sketch, "item", "left")
        .withColumn("est", F.coalesce(F.col("est"), F.lit(0)))
        .crossJoin(F.broadcast(total))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        F.lit(_HH_K).alias("k"),
        F.every(F.col("est") <= F.col("true_cnt")).alias("never_overcounts"),
        F.every(
            (F.col("true_cnt") - F.col("est")) * (_HH_K + 1) <= F.col("n_total")
        ).alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (Lee et al. 2022 "Deduplicating Training
# Data" — ExactSubstr, k-gram formulation): every maximal token run that
# also appears verbatim in at least one other document.
# ---------------------------------------------------------------------------

_SPAN_K = 8

DUP_SPAN_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_K - 1})) AS i
  FROM t WHERE len(toks) >= {_SPAN_K}
),
sh AS (
  SELECT doc_id, i - 1 AS p,
         md5(array_to_string(toks[i:i + {_SPAN_K - 1}], ' ')) AS h
  FROM pos
),
dup AS (SELECT h FROM sh GROUP BY h HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT doc_id, p FROM sh JOIN dup USING (h)),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > {_SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM (SELECT doc_id, p,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM hits)
)
SELECT doc_id,
       CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) + {_SPAN_K - 1} AS BIGINT) AS span_end,
       CAST(MAX(p) + {_SPAN_K - 1} - MIN(p) + 1 AS BIGINT) AS span_tokens
FROM isl
GROUP BY doc_id, island
ORDER BY doc_id, span_start
"""


@query("dup_span_profile", survey="dedup-substring,W1,U3", oracle=DUP_SPAN_ORACLE, headline=True)
def dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc duplicated token spans over the documents table.

    Span-level exact-substring dedup (the cut-the-span alternative to
    dropping whole near-duplicate docs). The distributed shape is one
    shingle-hash shuffle with full map-side combine (min/max, not
    countDistinct — no Expand), a semi-join back on the same key, and one
    per-document window: see operators/dedup.duplicated_spans."""
    from ..operators.dedup import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    spans = duplicated_spans(d, "doc_id", "text", k=_SPAN_K)
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        F.col("span_tokens").cast("long").alias("span_tokens"),
    ).orderBy("doc_id", "span_start")


DEDUP_SPAN_REWRITE_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
pos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_K - 1})) AS i
  FROM t WHERE len(toks) >= {_SPAN_K}
),
sh AS (
  SELECT doc_id, i - 1 AS p,
         md5(array_to_string(toks[i:i + {_SPAN_K - 1}], ' ')) AS h
  FROM pos
),
dup AS (SELECT h FROM sh GROUP BY h HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT doc_id, p FROM sh JOIN dup USING (h)),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > {_SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM (SELECT doc_id, p,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM hits)
),
spans AS (
  SELECT doc_id, MIN(p) AS s, MAX(p) + {_SPAN_K - 1} AS e
  FROM isl GROUP BY doc_id, island
),
rm AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM spans),
tokpos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM t
),
tok AS (SELECT doc_id, i - 1 AS p, toks[i] AS tok FROM tokpos),
keep AS (
  SELECT tok.doc_id, tok.p, tok.tok
  FROM tok LEFT JOIN rm ON rm.doc_id = tok.doc_id AND rm.p = tok.p
  WHERE rm.p IS NULL
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tok_kept,
         string_agg(tok, ' ' ORDER BY p) AS text_clean
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tok,
       CAST(COALESCE(a.n_tok_kept, 0) AS BIGINT) AS n_tok_kept,
       md5(COALESCE(a.text_clean, '')) AS clean_fp
FROM t LEFT JOIN agg a USING (doc_id)
"""


@query(
    "dedup_spans_rewrite",
    survey="dedup-substring,U3",
    oracle=DEDUP_SPAN_REWRITE_ORACLE,
    headline=True,
)
def dedup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2022, new r7):
    cut every maximal duplicated span out of each document and reassemble
    the cleaned text — `dup_span_profile` reports the spans, this query
    produces the corpus a pipeline actually trains on. All equi-joins
    (span intervals explode to covered positions, anti-join on (doc, pos))
    and one deterministic per-doc rebuild; the oracle restates the whole
    path in SQL and compares md5 of every reassembled document."""
    from ..operators.dedup import remove_duplicated_spans

    d = _t(spark, sf_dir, "documents")
    out = remove_duplicated_spans(d, "doc_id", "text", k=_SPAN_K)
    return out.select(
        "doc_id",
        "n_tok",
        "n_tok_kept",
        F.md5(F.col("text_clean").cast("binary")).alias("clean_fp"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model quality scoring (CCNet-style, Wenzek et al. 2020:
# LM-based quality filtering of crawled corpora). Add-one-smoothed bigram
# conditional probabilities, quantized to exact parts-per-million
# integers: per-token ``(1e6 * (c12+1)) div (c1+V)`` is pure int64
# arithmetic, so per-doc sums are order-independent and the single final
# IEEE division is bit-identical across engines — the same
# no-logs-in-the-score discipline as the rational TF-IDF above (log's last
# bit varies across libm builds; a 1e-6-resolution fixed-point probability
# is indistinguishable for filtering and exactly portable). Count tables
# are corpus-derived here (self-scoring); in production they are trained
# once on a reference corpus and written like any other write-time index.
# ---------------------------------------------------------------------------

LM_SCALE = 1_000_000

#: Session conf (r16, verdict item 9): "true" switches lm_quality_score to
#: the aggregate-before-shuffle shape — corpus passes 4→2, zero
#: vocabulary broadcast-hash joins — the plan for a SATURATED cluster,
#: where concurrent broadcast subtrees stop overlapping on idle cores.
#: Defaults to the measured-local winner (the concurrent-broadcast shape:
#: r15 min-of-7 0.76 s vs 1.14 s for this one). Both shapes are bit-exact
#: against the DuckDB oracle and plan-pinned in tests/test_plans.py.
LM_SATURATED_CONF = "spark.sport_data_pipeline.lm_quality.saturated"

LM_QUALITY_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
bi AS (
  SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks)-1)]) AS bg
  FROM t WHERE len(toks) > 1
),
c12 AS (SELECT bg, COUNT(*) AS c12 FROM bi GROUP BY 1),
c1 AS (SELECT split_part(bg, ' ', 1) AS ctx, COUNT(*) AS c1 FROM bi GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS n_v FROM (SELECT unnest(toks) AS tok FROM t)),
q AS (
  SELECT bi.doc_id, ({LM_SCALE} * (c12.c12 + 1)) // (c1.c1 + v.n_v) AS q
  FROM bi JOIN c12 USING (bg)
  JOIN c1 ON split_part(bi.bg, ' ', 1) = c1.ctx
  CROSS JOIN v
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(q) AS DOUBLE) / (COUNT(*) * {LM_SCALE}.0) AS lm_score
FROM q GROUP BY doc_id
"""


@query("lm_quality_score", survey="llm-quality,A1,J1,F12", oracle=LM_QUALITY_ORACLE, headline=True)
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean smoothed bigram probability (LM quality filter).

    Wordcount-shaped throughout: bigram instances shuffle once to build
    the c12 table, once (projected to the context token) for the c1
    table; both count tables then join back on their natural keys —
    vocabulary-sized sides against the instance relation, ordinary
    shuffled equi-joins with full map-side partial aggregation upstream.
    The vocabulary size V is one exact-distinct scalar broadcast to every
    task. Only docs with ≥1 bigram appear (a 0/1-token doc has no
    conditional probabilities to average).
    """
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    bi = d.select("doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("bg"))
    ctx_of = F.substring_index(F.col("bg"), " ", 1)
    n_v = d.select(F.explode(tokens(F.col("text"))).alias("tok")).agg(
        F.count_distinct("tok").alias("n_v")
    )
    saturated = (
        str(spark.conf.get(LM_SATURATED_CONF, "false") or "false").lower() == "true"
    )
    if saturated:
        # Shape (a) — the 100 TB plan (r16, verdict item 9; built and
        # measured in r15, now landed behind the conf): bigram INSTANCES
        # collapse to per-(doc, bg) counts behind ONE shared hash(bg)
        # exchange; c12 reduces that same clustering with no further
        # exchange; c1 and the per-bigram quotient table derive from c12
        # (vocabulary-scale exchanges only); one shuffle-hash join back
        # on the shared hash(bg) clustering. Corpus passes 4→2, zero
        # vocabulary broadcast-hash joins — the shape for a saturated
        # cluster where the default's concurrent broadcast subtrees
        # no longer overlap on idle cores. Arithmetic is bit-identical:
        # per-doc sums of the integer q weight by the exact instance
        # count n instead of repeating q per instance.
        nb = (
            bi.repartition("bg")
            .groupBy("bg", "doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        c12 = nb.groupBy("bg").agg(F.sum("n").alias("c12"))
        c1 = (
            c12.select(ctx_of.alias("ctx"), "c12")
            .groupBy("ctx")
            .agg(F.sum("c12").alias("c1"))
        )
        qt = (
            c12.withColumn("ctx", ctx_of)
            .join(c1, "ctx")
            .crossJoin(F.broadcast(n_v))
            .select(
                "bg", F.expr(f"({LM_SCALE}L * (c12 + 1)) div (c1 + n_v)").alias("q")
            )
        )
        q = nb.join(qt.hint("shuffle_hash"), "bg").select(
            "doc_id", "n", F.col("q")
        )
        return q.groupBy("doc_id").agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            (
                F.sum(F.col("n") * F.col("q")).cast("double")
                / (F.sum("n") * F.lit(LM_SCALE))
            ).alias("lm_score"),
        )
    # r15 audit note: THREE restructures of this query were built,
    # verified bit-exact against the oracle, and measured SLOWER on the
    # benched configuration, so the build-round shape stands as the
    # DEFAULT. (a) Pre-aggregate instances to per-doc bigram counts
    # behind a shared hash(bg) exchange, vocab tables derived
    # downstream, one shuffle_hash join back (corpus passes 4→2, zero
    # vocab broadcasts — the purest 100 TB shape): min-of-7 1.14 s vs
    # 0.76 s — the (doc, bg) string-keyed hash aggregate + the extra
    # instance exchange cost more than the explodes they saved on 594k
    # short documents. It is now available as LM_SATURATED_CONF=true
    # (above) for the saturated-cluster regime. (b) Pre-join c12×c1 into
    # one per-bigram quotient table, broadcast once: 1.27 s — the
    # broadcast waits on a three-stage vocab join chain. (c) Keep this
    # shape but derive c1 from c12 (one less explode): the c1 broadcast
    # then SERIALIZES behind c12's aggregation, while the three
    # "redundant" explode subtrees here materialize as CONCURRENT AQE
    # stages on otherwise-idle cores — fewer passes lost wall-clock.
    c12 = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bi.select(ctx_of.alias("ctx")).groupBy("ctx").agg(F.count(F.lit(1)).alias("c1"))
    q = (
        bi.join(c12, "bg")
        .withColumn("ctx", ctx_of)
        .join(c1, "ctx")
        .crossJoin(F.broadcast(n_v))
        .select(
            "doc_id",
            F.expr(f"({LM_SCALE}L * (c12 + 1)) div (c1 + n_v)").alias("q"),
        )
    )
    return q.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum("q").cast("double") / (F.count(F.lit(1)) * F.lit(LM_SCALE))).alias(
            "lm_score"
        ),
    )


# ---------------------------------------------------------------------------
# End-to-end "production day" pipeline: bronze snapshot files → registered
# Python DataSource read → latest-wins refine (re-crawled docs collapse to
# the newest poll) → quality gate → one-sided incremental dedup against the
# existing silver corpus. This is the integration seam none of the
# per-operator oracles exercises: the reference runs this loop as
# scraper → staging JSON → upsert → analytics (main.py pipeline
# orchestration); here it is one declarative pass over real snapshot files
# written and read through the engine's own S9 sink and X1 source. The
# DuckDB twin restates the final routing semantics closed-form (the polls
# and the merge are deterministic id rules), so the FULL per-doc routing
# table is hash-compared — quality_fail / dup_exact / near_dup / kept.
# ---------------------------------------------------------------------------

from .textops import _NORM_SQL as _E2E_NORM  # noqa: E402

_E2E_MIN_TOK = 5

E2E_PIPELINE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         md5({_E2E_NORM.format(col="text")}) AS fp
  FROM documents
),
sh AS (
  SELECT *, list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                            for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS s3
  FROM t
),
c AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
crawled AS (  -- poll 1 = ids %5 in (1,2); poll 2 re-crawls %5=2, adds %5=3;
              -- latest-wins on the timestamped snapshot stem keeps one row
              -- per doc (re-crawls carry identical content)
  SELECT *, len(toks) >= {_E2E_MIN_TOK} AS q_pass
  FROM sh WHERE doc_id % 5 IN (1, 2, 3)
),
b AS (SELECT * FROM crawled WHERE q_pass),
ex AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS em
  FROM b JOIN c ON b.fp = c.fp GROUP BY 1
),
near AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS nm
  FROM b JOIN c ON b.lang = c.lang AND b.source = c.source
  WHERE len(list_distinct(b.s3 || c.s3)) > 0
    AND CAST(len(list_intersect(b.s3, c.s3)) AS DOUBLE)
        / len(list_distinct(b.s3 || c.s3)) >= 0.5
  GROUP BY 1
),
routed AS (
  SELECT g.doc_id, g.toks,
         CASE WHEN NOT g.q_pass THEN 'quality_fail'
              WHEN ex.em IS NOT NULL THEN 'dup_exact'
              WHEN near.nm IS NOT NULL THEN 'near_dup'
              ELSE 'kept' END AS status,
         CASE WHEN g.q_pass THEN COALESCE(ex.em, near.nm) END AS match_id,
         CAST(len(g.toks) AS BIGINT) AS n_tok
  FROM crawled g
  LEFT JOIN ex ON g.doc_id = ex.doc_id
  LEFT JOIN near ON g.doc_id = near.doc_id
),
-- ExactSubstr REMOVAL half over (kept batch docs) UNION (silver corpus):
-- cut every token span that also appears verbatim in another doc of the
-- post-routing corpus (batch ids %5 in 1..3 and corpus ids %5=0 are
-- disjoint)
ku AS (
  SELECT r.doc_id, r.toks FROM routed r WHERE r.status = 'kept'
  UNION ALL
  SELECT doc_id, toks FROM c
),
spos AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_K - 1})) AS i
  FROM ku WHERE len(toks) >= {_SPAN_K}
),
ssh AS (
  SELECT doc_id, i - 1 AS p,
         md5(array_to_string(toks[i:i + {_SPAN_K - 1}], ' ')) AS h
  FROM spos
),
sdup AS (SELECT h FROM ssh GROUP BY h HAVING min(doc_id) <> max(doc_id)),
shits AS (SELECT doc_id, p FROM ssh JOIN sdup USING (h)),
sisl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > {_SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM (SELECT doc_id, p,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM shits)
),
sspans AS (
  SELECT doc_id, MIN(p) AS s, MAX(p) + {_SPAN_K - 1} AS e
  FROM sisl GROUP BY doc_id, island
),
srm AS (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM sspans),
stok AS (
  SELECT doc_id, i - 1 AS p, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM ku)
),
skeep AS (
  SELECT stok.doc_id, stok.p, stok.tok
  FROM stok LEFT JOIN srm ON srm.doc_id = stok.doc_id AND srm.p = stok.p
  WHERE srm.p IS NULL
),
sagg AS (
  SELECT doc_id, COUNT(*) AS n_tok_clean,
         string_agg(tok, ' ' ORDER BY p) AS text_clean
  FROM skeep GROUP BY doc_id
)
SELECT r.doc_id, r.status, r.match_id, r.n_tok,
       CASE WHEN r.status = 'kept'
            THEN CAST(COALESCE(a.n_tok_clean, 0) AS BIGINT) END AS n_tok_clean,
       CASE WHEN r.status = 'kept' THEN md5(COALESCE(a.text_clean, '')) END AS clean_fp
FROM routed r
LEFT JOIN sagg a ON r.doc_id = a.doc_id
ORDER BY r.doc_id
"""


@query(
    "e2e_daily_pipeline",
    survey="llm-pipeline-e2e,S9,X1,S10,W7,dedup-incremental",
    oracle=E2E_PIPELINE_ORACLE,
    headline=True,
)
def e2e_daily_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One production day, end to end through the engine's own edges.

    Two crawl polls land as timestamped JSON snapshots via the S9 sink
    (``write_snapshot``), are read back through the REGISTERED Python
    DataSource (``bronze_snapshot`` — one input partition per snapshot
    file, ``*_latest`` alias excluded at the source), collapse to one row
    per doc with the latest-wins merge (W7/S10: poll 2's re-crawl of the
    %5=2 docs supersedes poll 1 by snapshot-stem order), pass a token-count
    quality gate, and route against the existing silver corpus with the
    one-sided incremental dedup. Since r8 the pipeline also runs the
    ExactSubstr REMOVAL half over the post-routing corpus (kept batch ∪
    silver): every kept doc's cross-document duplicated token spans are
    cut and the doc reassembled, yielding `n_tok_clean` and a cleaned-text
    fingerprint — the full routing table now proves gate, route, AND
    rewrite in one hash-compared artifact.
    """
    import datetime as _dt
    import shutil
    import tempfile

    from ..operators.dedup import incremental_dedup, remove_duplicated_spans
    from ..operators.merge import merge_latest
    from ..sources.pydatasource import load_snapshots
    from ..sources.sinks import write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    corpus = docs.filter(F.col("doc_id") % 5 == 0)

    tmp = tempfile.mkdtemp(prefix="sdp_e2e_")
    try:
        poll1 = docs.filter((F.col("doc_id") % 5).isin(1, 2))
        poll2 = docs.filter((F.col("doc_id") % 5).isin(2, 3))
        # latest=False (r15): the bronze read below EXCLUDES the *_latest
        # alias, and each alias write re-runs the poll's whole upstream
        # plan — the two aliases were half of the sink cost for a file
        # nothing ever read.
        # NATURAL write partitioning instead of coalesce(1) (r16, verdict
        # item 3): coalesce(1) collapsed the poll's whole upstream into
        # one task at ANY scale — at 100 TB a catastrophic serial stage.
        # The snapshot now lands with the scan's own partitioning (one
        # part locally where the corpus is a single split, thousands of
        # parallel parts on a cluster); the bronze reader scans one
        # partition per PART, and every consumer below is keyed
        # (latest-wins merge on doc_id, equi-join routing, final
        # orderBy), so part count/order cannot reach the result — pinned
        # by test_e2e_pipeline_part_order_insensitive and the DuckDB
        # oracle. Measured dead end (interleaved min-of-5 A/B at sf0.1):
        # FORCING parallelism locally with spread() — a keyless
        # repartition(32) before each write — costs ~1.6 s (sort-before-
        # repartition + exchange + 2x32 tiny part commits + 64 Python-
        # source read tasks) against a ~3 k-row poll; natural
        # partitioning measures 4.72 s min vs coalesce(1)'s 4.94 s.
        # The two poll writes are INDEPENDENT actions on disjoint target
        # paths — submit them concurrently (guide §2.6: actions are only
        # sequential because driver code calls them sequentially), so the
        # second poll's tasks back-fill cores the first one's tail frees.
        # Interleaved min-of-7 A/B at sf0.1: 0.196 s vs 0.349 s min
        # (0.25 vs 0.86 s median) for the writes phase.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            w1 = pool.submit(
                write_snapshot, poll1, tmp, "crawl", "json",
                _dt.datetime(2024, 1, 1, 8, 0, 0), False,
            )
            w2 = pool.submit(
                write_snapshot, poll2, tmp, "crawl", "json",
                _dt.datetime(2024, 1, 1, 20, 0, 0), False,
            )
            w1.result()
            w2.result()
        # conf-aware read: an external harness's vanilla session leaves
        # spark.sql.python.filterPushdown.enabled off, which makes a
        # pushFilters-implementing reader fail at init — load_snapshots
        # selects the plain reader there (r6 driver regression).
        bronze = load_snapshots(
            spark, tmp,
            "doc_id long, text string, lang string, source string, snapshot string",
        )
        latest = merge_latest(bronze, ["doc_id"], ["snapshot"]).drop("snapshot")
        gated = latest.withColumn(
            "n_tok", F.size(F.split(F.trim("text"), r"\s+")).cast("long")
        )
        routed = incremental_dedup(
            gated.filter(F.col("n_tok") >= _E2E_MIN_TOK),
            corpus,
            "doc_id",
            "text",
            block_cols=["lang", "source"],
            threshold=0.5,
            shingle_n=3,
        )
        # stage_checkpoint (r15, guide §1.2 "don't compute things twice"):
        # `routing` feeds BOTH the span-removal stage (kept_union) and the
        # final assembly join, and there is no shared exchange boundary at
        # its top — without the cut, the bronze read, latest-wins merge
        # and incremental-dedup joins all execute twice inside the one
        # materializing job. The cut also drops the Python-source scan out
        # of the final plan's lineage.
        routing = stage_checkpoint(
            gated.select("doc_id", "n_tok", "text").join(
                routed, "doc_id", "left"
            ).select(
                "doc_id",
                F.coalesce("status", F.lit("quality_fail")).alias("status"),
                "match_id",
                "n_tok",
                "text",
            )
        )
        # the REMOVAL half (r8): docs that survive routing still get every
        # token span that appears verbatim elsewhere in the post-routing
        # corpus (kept batch ∪ silver) cut out — span report → position
        # explode → anti-join → deterministic reassembly, all equi-joins
        # (operators/dedup.remove_duplicated_spans)
        kept_union = routing.filter(F.col("status") == "kept").select(
            "doc_id", "text"
        ).unionByName(corpus.select("doc_id", "text"))
        cleaned = remove_duplicated_spans(
            kept_union, "doc_id", "text", k=_SPAN_K
        ).select(
            "doc_id",
            F.col("n_tok_kept").alias("n_tok_clean"),
            F.md5(F.col("text_clean").cast("binary")).alias("clean_fp"),
        )
        result = (
            routing.join(cleaned, "doc_id", "left")
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                "status",
                F.col("match_id").cast("long").alias("match_id"),
                F.col("n_tok").cast("long").alias("n_tok"),
                F.when(F.col("status") == "kept", F.col("n_tok_clean"))
                .cast("long")
                .alias("n_tok_clean"),
                F.when(F.col("status") == "kept", F.col("clean_fp")).alias("clean_fp"),
            )
            .orderBy("doc_id")
        )
        # Materialize DISTRIBUTED before `finally` deletes the tmp
        # snapshot dirs the lineage reads from. This keeps the routing
        # table off the driver — formerly a .collect() + createDataFrame
        # round-trip, a linear driver allocation at a 100× daily batch.
        # stage_checkpoint severs the lineage eagerly; executor-local
        # blocks by default, the reliable checkpoint dir when the session
        # configures one (checkpointing.CHECKPOINT_DIR_CONF).
        return stage_checkpoint(result)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# BPE merge-pair statistics (r8): the first iteration of byte-pair-encoding
# training — count adjacent character pairs across the corpus weighted by
# word frequency, the statistic a tokenizer trainer computes before every
# merge. Wordcount-shaped twice over (word counts, then pair counts over
# the DISTINCT word list), so the second explode is vocabulary-sized, not
# corpus-sized — the trick that makes BPE training feasible at 100 TB:
# corpus tokens collapse to the vocabulary before any per-character work.
# ---------------------------------------------------------------------------

BPE_PAIR_ORACLE = r"""
WITH w AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents
),
wc AS (
  SELECT w, COUNT(*) AS wn FROM w WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest([w[i:i+1] FOR i IN generate_series(1, len(w) - 1)]) AS pair, wn
  FROM wc
),
agg AS (SELECT pair, CAST(SUM(wn) AS BIGINT) AS n FROM pairs GROUP BY pair)
SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 20
"""


@query("bpe_pair_stats", survey="A5,llm-index", oracle=BPE_PAIR_ORACLE)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs weighted by word frequency — the
    first BPE training iteration. Two wordcount-shaped passes: corpus
    tokens collapse to (word, count) first, so the character-pair explode
    runs over the VOCABULARY (bounded) rather than the corpus; the final
    top-20 is TakeOrderedAndProject, never a global sort."""
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wc = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "wn",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Token-budget systematic sampling (r8): draw a ~64-doc subsample with
# inclusion probability proportional to token count, with ZERO randomness —
# the reproducible way to build an eval slice or a budgeted mixture draw.
# The cumulative token line is a distributed prefix sum (range exchange +
# broadcast offsets, operators/windows.systematic_weighted_sample); the
# point-containment test is pure decimal integer arithmetic, so both
# engines agree bit-for-bit.
# ---------------------------------------------------------------------------

_SYS_SAMPLE_N = 64

SYSTEMATIC_SAMPLE_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id) AS cum,
         SUM(n_tok) OVER () AS tot
  FROM t
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST((cum * {_SYS_SAMPLE_N}) // tot - ((cum - n_tok) * {_SYS_SAMPLE_N}) // tot AS BIGINT) AS n_points
FROM c
WHERE (cum * {_SYS_SAMPLE_N}) // tot > ((cum - n_tok) * {_SYS_SAMPLE_N}) // tot
"""


@query("systematic_token_sample", survey="llm-mixture,W2", oracle=SYSTEMATIC_SAMPLE_ORACLE)
def systematic_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~64-doc systematic sample weighted by token count, deterministic
    and RNG-free: distributed cumulative token line (same range-exchange
    + broadcast-offset machinery as the global rank), items selected
    where their weight interval contains one of the 64 evenly spaced
    points. Reproducible across engines and cluster layouts; a heavier
    doc covers more points (n_points) but appears once."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    from ..operators.windows import systematic_weighted_sample

    return systematic_weighted_sample(d, "doc_id", "n_tok", _SYS_SAMPLE_N)


# ---------------------------------------------------------------------------
# Length-percentile quality gate (r8): "drop the shortest 25% of documents"
# — the standard length-filter stage of CCNet/RefinedWeb-style pipelines,
# with the threshold COMPUTED IN-QUERY by the distributed exact-quantile
# machinery and broadcast back as a one-row scalar (no collect, no driver
# round-trip): quantile → broadcast threshold → gated aggregate, all one
# declarative plan.
# ---------------------------------------------------------------------------

LENGTH_GATE_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
  FROM documents
),
q AS (SELECT quantile_disc(n_tok, 0.25) AS thr FROM t)
SELECT t.lang,
       CAST(SUM(CASE WHEN t.n_tok >= q.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN t.n_tok < q.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN t.n_tok >= q.thr THEN t.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(MIN(q.thr) AS BIGINT) AS threshold
FROM t CROSS JOIN q
GROUP BY t.lang
"""


@query("length_percentile_gate", survey="llm-quality,A7,W2", oracle=LENGTH_GATE_ORACLE)
def length_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep/drop stats for a p25 length floor, threshold
    computed distributively in the same plan (operators/windows.
    global_quantiles → one-row broadcast; percentile_disc semantics, so
    the cut is bit-portable) — no collect between the quantile and the
    gate."""
    from ..operators.windows import global_quantiles

    t = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    thr = global_quantiles(t, "n_tok", "doc_id", [0.25]).select(
        F.col("value").cast("long").alias("thr")
    )
    kept = F.col("n_tok") >= F.col("thr")
    return (
        t.crossJoin(F.broadcast(thr))
        .groupBy("lang")
        .agg(
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum((~kept).cast("int")).cast("long").alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).cast("long").alias(
                "kept_tokens"
            ),
            F.min("thr").cast("long").alias("threshold"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge training (r8): N full merge iterations, not just the
# first pair statistic (bpe_pair_stats above). Each iteration picks the
# most frequent adjacent symbol pair (deterministic tie-break) and merges
# it greedily left-to-right across the vocabulary — the actual
# tokenizer-training loop (Sennrich et al. 2016).
#
# Representation shared with the oracle: a word's symbol sequence is the
# sentinel string '<s1><s2>...<sn>' (symbols are lowercase a-z only, so
# the sentinels can never collide). Merging pair (a, b) is then EXACTLY
# the literal string replace '<a><b>' → '<ab>': literal replace is
# non-overlapping left-to-right — the standard BPE greedy merge — and the
# per-symbol brackets mean adjacent matches share no boundary characters,
# so '<a><a><a>' under pair (a,a) becomes '<aa><a>', as BPE requires.
# Both engines implement the SAME iteration on this representation, so
# the learned merge table hash-matches bit-exactly.
#
# Scale shape: the corpus collapses to the (word, count) vocabulary ONCE
# (wordcount-shaped); every iteration after that is vocabulary-sized —
# one grouped pair count + a 1-row top-1 collect + a map-only replace.
# At 100 TB the vocabulary is millions of rows regardless of corpus
# bytes; the driver loop holds N scalar pairs, nothing else.
# ---------------------------------------------------------------------------

_BPE_MERGES = 5


def _bpe_oracle_prefix(n_merges: int) -> str:
    """The shared WITH-chain: vocabulary v0, then per-iteration pair
    counts p{k}, top-1 merge m{k}, merged vocabulary v{k}."""
    parts = [
        r"""WITH w AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w FROM documents
),
v0 AS (
  SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS s, COUNT(*) AS wn
  FROM w WHERE regexp_matches(w, '^[a-z]{2,}$') GROUP BY 1
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f""",
p{k} AS (
  SELECT pr[1] AS l, pr[2] AS r, SUM(wn) AS n FROM (
    SELECT unnest([[syms[i], syms[i+1]] FOR i IN generate_series(1, len(syms) - 1)]) AS pr, wn
    FROM (SELECT str_split(s[2:-2], '><') AS syms, wn FROM v{k - 1})
  ) GROUP BY 1, 2
),
m{k} AS (SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
v{k} AS (
  SELECT replace(s, '<' || m.l || '><' || m.r || '>', '<' || m.l || m.r || '>') AS s, wn
  FROM v{k - 1}, m{k} m
)"""
        )
    return "".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, l AS left, r AS right, l || r AS merged, n AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        _bpe_oracle_prefix(n_merges)
        + f"\nSELECT CAST(step AS INTEGER) AS step, \"left\", \"right\", merged,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM ({union}) ORDER BY step"
    )


BPE_TRAIN_ORACLE = _bpe_train_oracle(_BPE_MERGES)


@query("bpe_train_merges", survey="A5,llm-index,iterative", oracle=BPE_TRAIN_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first N byte-pair-encoding merges over the document corpus.

    Corpus → (word, count) vocabulary once; then N iterations of: count
    adjacent symbol pairs weighted by word frequency (grouped agg over the
    vocabulary), pick the max with a total tie-break (count desc, pair
    asc — a 1-row collect), and merge it everywhere with the sentinel
    literal-replace (map-only over the vocabulary, greedy left-to-right
    by construction of non-overlapping literal replace). The vocabulary
    frame is stage_checkpointed per iteration so the lineage stays flat
    across merges."""
    merges, _ = _bpe_train(spark, sf_dir, _BPE_MERGES)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count long"
    ).orderBy("step")


def _bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Run the BPE training loop; returns (merge table rows, final
    merged vocabulary frame with columns ``s`` (sentinel string) and
    ``wn`` (word count))."""
    words = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
    )
    vocab = stage_checkpoint(
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
        .select(F.regexp_replace("w", "(.)", "<$1>").alias("s"), "wn")
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            vocab.select(F.explode(_sym_pairs()).alias("p"), "wn")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wn").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged (tiny corpora)
        row = top[0]
        l_, r_, n_ = row["l"], row["r"], int(row["n"])
        merges.append((step, l_, r_, l_ + r_, n_))
        vocab = stage_checkpoint(
            vocab.select(
                F.replace(
                    F.col("s"), F.lit(f"<{l_}><{r_}>"), F.lit(f"<{l_}{r_}>")
                ).alias("s"),
                "wn",
            )
        )
    return merges, vocab


def _sym_pairs():
    """Adjacent symbol pairs of the sentinel string column ``s``."""
    syms = F.split(F.regexp_replace("s", "^<|>$", ""), "><")
    shifted = F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))
    return F.filter(
        F.zip_with(syms, shifted, lambda a, b: F.struct(a.alias("l"), b.alias("r"))),
        lambda p: p["r"].isNotNull(),
    )


BPE_VOCAB_ORACLE = (
    _bpe_oracle_prefix(_BPE_MERGES)
    + f"""
SELECT token, CAST(SUM(wn) AS BIGINT) AS n FROM (
  SELECT unnest(str_split(s[2:-2], '><')) AS token, wn FROM v{_BPE_MERGES}
) GROUP BY token ORDER BY n DESC, token LIMIT 20
"""
)


@query("bpe_vocab_after_merges", survey="A5,llm-index,iterative", oracle=BPE_VOCAB_ORACLE)
def bpe_vocab_after_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned merges: top-20 vocabulary symbols (with corpus
    frequencies) after the five trained BPE merges — the tokenizer's
    post-merge token distribution, i.e. what the corpus actually
    tokenizes into once training ran. Shares the training loop with
    ``bpe_train_merges``; the apply half is one vocabulary-sized explode
    + grouped sum (still corpus-byte-independent after the initial
    wordcount collapse)."""
    _, vocab = _bpe_train(spark, sf_dir, _BPE_MERGES)
    syms = F.split(F.regexp_replace("s", "^<|>$", ""), "><")
    return (
        vocab.select(F.explode(syms).alias("token"), "wn")
        .groupBy("token")
        .agg(F.sum("wn").cast("long").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


def _bpe_encode_oracle(n_merges: int) -> str:
    """Merge training prefix + the encode half: distinct words encoded
    through the learned replaces, joined back to (doc, pos) and
    reassembled per doc under an md5."""
    enc_chain = "".join(
        f""",
e{k} AS (
  SELECT w, replace(s, '<' || m.l || '><' || m.r || '>', '<' || m.l || m.r || '>') AS s
  FROM e{k - 1}, m{k} m
)"""
        for k in range(1, n_merges + 1)
    )
    return (
        _bpe_oracle_prefix(n_merges)
        + r""",
dw AS (
  SELECT doc_id, pos, w FROM (
    SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
    FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS arr
          FROM documents)
  ) WHERE regexp_matches(w, '^[a-z]{2,}$')
),
e0 AS (
  SELECT w, regexp_replace(w, '(.)', '<\1>', 'g') AS s
  FROM (SELECT DISTINCT w FROM dw)
)"""
        + enc_chain
        + f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(str_split(s[2:-2], '><'))) AS BIGINT) AS n_tok,
       CAST(SUM(len(list_filter(str_split(s[2:-2], '><'), t -> length(t) >= 2)))
            AS BIGINT) AS n_merged_tok,
       md5(string_agg(s, ' ' ORDER BY pos)) AS enc_fp
FROM dw JOIN e{n_merges} USING (w)
GROUP BY doc_id ORDER BY doc_id"""
    )


BPE_ENCODE_ORACLE = _bpe_encode_oracle(_BPE_MERGES)


@query("bpe_encode_corpus", survey="A5,llm-index,iterative", oracle=BPE_ENCODE_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained tokenizer: per-document token
    sequences after the five learned BPE merges — the inference half of
    tokenizer training (ref: the reference's tokenize-on-ingest step;
    Sennrich et al. 2016 §3 "apply the learned operations").

    Scale shape (the word-cache trick production tokenizers use): each
    DISTINCT word is encoded exactly once — five vocabulary-sized
    literal replaces on the sentinel representation — then joined back
    to corpus (doc, pos) word occurrences, so the per-token work is
    vocabulary-bound while the corpus-sized pass is one explode + one
    equi-join + one grouped reassembly. Per doc: encodable word count,
    post-merge token count, merged-token (len >= 2) count, and the md5
    of the full position-ordered encoded stream — the fingerprint pins
    the exact token sequence of every document, not just its length."""
    merges, _ = _bpe_train(spark, sf_dir, _BPE_MERGES)
    docs = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w"),
        )
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
    )
    enc = (
        docs.select("w")
        .distinct()
        .select("w", F.regexp_replace("w", "(.)", "<$1>").alias("s"))
    )
    for _step, l_, r_, _merged, _n in merges:
        enc = enc.select(
            "w",
            F.replace(F.col("s"), F.lit(f"<{l_}><{r_}>"), F.lit(f"<{l_}{r_}>")).alias(
                "s"
            ),
        )
    syms = F.split(F.regexp_replace("s", "^<|>$", ""), "><")
    enc = enc.select(
        "w",
        "s",
        F.size(syms).alias("wt"),
        F.size(F.filter(syms, lambda t: F.length(t) >= 2)).alias("wm"),
    )
    ordered = F.sort_array(F.collect_list(F.struct("pos", "s")))
    return (
        docs.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("wt").cast("long").alias("n_tok"),
            F.sum("wm").cast("long").alias("n_merged_tok"),
            F.md5(
                F.concat_ws(
                    " ", F.transform(ordered, lambda x: x["s"])
                ).cast("binary")
            ).alias("enc_fp"),
        )
        .orderBy("doc_id")
    )
