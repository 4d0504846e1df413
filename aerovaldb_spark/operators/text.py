"""Text-analysis operators for the training-data pipeline surface.

Language-ID, quality scoring, token counting, and fingerprinting over
the ``documents`` table. Everything is built from JVM-side
``pyspark.sql.functions`` (no Python UDFs in the hot path) so plans
stay inside whole-stage codegen and scale linearly with the scan: at
100 TB these are embarrassingly parallel map-only jobs — no shuffle
until the final (small) aggregation.

Parity notes: ratios are divisions of exact integers → IEEE-identical
doubles in Spark and DuckDB; rounding is applied identically on both
sides.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .._round import round6
from ._scope import scoped_persist

STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "la", "de", "los"),
    "de": ("der", "die", "und", "das"),
    "zh": ("的", "是", "了", "在"),
}


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count_col(text: str | Column = "text") -> Column:
    return F.size(tokens_col(text))


# GPT-2-style pre-tokenizer regex (contractions, letter runs, digit
# runs, punctuation runs, space runs) — the "BPE-ish" token estimate a
# budget/packing pipeline uses when whitespace counting is too coarse.
# No lookarounds, so Java (Spark) and RE2-family (DuckDB) engines
# tokenize identically — verified corpus-wide + unicode edge cases.
BPE_TOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"
)


def bpe_token_count_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def fingerprint_col(text: str | Column = "text") -> Column:
    """Deterministic 128-bit content fingerprint (hex md5)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


# --------------------------------------------------------------------------
# q21: token counting — per-source token statistics.
def q21_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", token_count_col())
        .withColumn("n_bpe", bpe_token_count_col())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            round6(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
    )


_BPE_SQL_PAT = BPE_TOKEN_PATTERN.replace("'", "''")

Q21_SQL = f"""
WITH t AS (SELECT source, len(string_split(text, ' ')) AS n_tokens,
           len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe
           FROM documents)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
  CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
FROM t GROUP BY source
"""


# --------------------------------------------------------------------------
# q22: quality scoring — length / mean token length / stopword ratio,
# combined into a deterministic score. All inputs are exact ints.
def quality_columns(df: DataFrame) -> DataFrame:
    n_tokens = token_count_col()
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), " ", ""))
    stop_hits = F.expr(
        "size(filter(split(text, ' '), t -> t IN ('the', 'a', 'of', 'and')))"
    )
    df = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_chars_m", n_chars)
        .withColumn(
            "mean_token_len",
            round6(alpha_chars.cast("double") / F.col("n_tokens")),
        )
        .withColumn(
            "stopword_ratio",
            round6(stop_hits.cast("double") / F.col("n_tokens")),
        )
    )
    return df.withColumn(
        "quality_score",
        round6(
            F.least(F.col("n_tokens").cast("double") / 100, F.lit(1.0)) * 0.5
            + (F.lit(1.0) - F.col("stopword_ratio")) * 0.5
        ),
    )


def q22_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_columns(docs).select(
        "doc_id", "n_tokens", "n_chars_m", "mean_token_len", "stopword_ratio",
        "quality_score",
    )


# q22's quality_score as a standalone projection, for composition in
# other oracles (q60 canonical-representative selection).
QUALITY_SCORE_SQL = """
SELECT doc_id,
  ROUND(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100, 1.0) * 0.5
    + (1.0 - ROUND(CAST(len(list_filter(string_split(text, ' '),
                                        t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
              / len(string_split(text, ' ')), 6)) * 0.5, 6) AS quality_score
FROM documents
"""

Q22_SQL = """
WITH t AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    length(text) AS n_chars_m,
    length(replace(text, ' ', '')) AS alpha_chars,
    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_hits
  FROM documents
)
SELECT doc_id, n_tokens, n_chars_m,
  ROUND(CAST(alpha_chars AS DOUBLE) / n_tokens, 6) AS mean_token_len,
  ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
  ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
        + (1.0 - ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6)) * 0.5, 6) AS quality_score
FROM t
"""


# --------------------------------------------------------------------------
# q23: language identification — stopword-profile heuristic. The guess is
# deterministic (argmax over per-language hit counts with a fixed
# preference order); accuracy vs the provided label is reported.
def lang_guess_col() -> Column:
    hits = {
        lang: F.expr(
            "size(filter(split(text, ' '), t -> t IN ({})))".format(
                ", ".join(f"'{w}'" for w in words)
            )
        )
        for lang, words in STOPWORDS.items()
    }
    # Fixed preference order = dict order; strict > keeps argmax stable.
    guess = F.lit("unk")
    best = F.lit(0)
    for lang in STOPWORDS:
        cond = hits[lang] > best
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
        best = F.when(cond, hits[lang]).otherwise(best)
    return guess


def q23_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_guess", lang_guess_col())
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_hits(words: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({in_list})))"


Q23_SQL = """
WITH t AS (
  SELECT lang,
    CASE
      WHEN {zh} THEN 'zh'
      WHEN {de} THEN 'de'
      WHEN {es} THEN 'es'
      WHEN {fr} THEN 'fr'
      WHEN {en} THEN 'en'
      ELSE 'unk'
    END AS lang_guess
  FROM documents
)
SELECT lang, lang_guess, COUNT(*) AS n_docs FROM t GROUP BY lang, lang_guess
""".format(
    # Mirror the Spark fold: later languages win only with STRICTLY more
    # hits than every earlier one; evaluate in reverse dict order.
    zh=f"{_sql_hits(STOPWORDS['zh'])} > GREATEST(0, {_sql_hits(STOPWORDS['en'])}, {_sql_hits(STOPWORDS['fr'])}, {_sql_hits(STOPWORDS['es'])}, {_sql_hits(STOPWORDS['de'])})",
    de=f"{_sql_hits(STOPWORDS['de'])} > GREATEST(0, {_sql_hits(STOPWORDS['en'])}, {_sql_hits(STOPWORDS['fr'])}, {_sql_hits(STOPWORDS['es'])})",
    es=f"{_sql_hits(STOPWORDS['es'])} > GREATEST(0, {_sql_hits(STOPWORDS['en'])}, {_sql_hits(STOPWORDS['fr'])})",
    fr=f"{_sql_hits(STOPWORDS['fr'])} > GREATEST(0, {_sql_hits(STOPWORDS['en'])})",
    en=f"{_sql_hits(STOPWORDS['en'])} > 0",
)


# --------------------------------------------------------------------------
# q24: document fingerprinting — md5 content hash + a shared 60-bit
# integer hash (same function the dedup operators use on both engines).
def q24_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_col().alias("fp_md5"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("fp_int"),
    )


Q24_SQL = """
SELECT doc_id, md5(text) AS fp_md5,
  CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS fp_int
FROM documents
"""


# --------------------------------------------------------------------------
# q53: deterministic train/val/test split — hash-bucket assignment, so
# membership is stable under re-runs, appends, and engine changes (the
# property a training pipeline needs; random() splits are none of
# these). Salting the hash input ('split_' prefix) decorrelates the
# split from every other doc_id-derived hash in the pipeline.
def split_col(id_col: str | Column = "doc_id", salt: str = "split_") -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    from .dedup import hash60

    bucket = hash60(F.concat(F.lit(salt), c.cast("string"))) % 100
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


def q53_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 100
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        split_col().alias("split"),
    )


Q53_SQL = """
WITH b AS (
  SELECT doc_id, source,
    CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, source, bucket,
  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
FROM b
"""


# --------------------------------------------------------------------------
# q54: sequence packing — assign documents to fixed token-budget
# shards with a running sum. Partitioned by source so the window sort
# is distributed (one global ORDER BY would serialize on a single
# task at 100 TB; per-source packing is the scale shape, and shard
# identity is (source, shard_id)).
PACK_BUDGET = 4096


def q54_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_tokens = docs.select("doc_id", "source", token_count_col().alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    return with_tokens.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / PACK_BUDGET).alias("shard_id"),
    )


Q54_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens,
  CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS shard_id
FROM c
"""


# --------------------------------------------------------------------------
# q57: weighted source mixing — downsample each source to its mixture
# weight with the same salted-hash-bucket trick as q53, so the mix is
# deterministic and append-stable. A map-only filter: no shuffle, no
# state; at 100 TB this is a predicate the scan itself evaluates.
MIX_DEFAULT_WEIGHT = 0.5
MIX_WEIGHTS = {"src0": 1.0, "src1": 0.25, "src2": 0.1}


def q57_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 10000
    weight = F.lit(MIX_DEFAULT_WEIGHT)
    for src, w in MIX_WEIGHTS.items():
        weight = F.when(F.col("source") == src, F.lit(w)).otherwise(weight)
    return docs.select("doc_id", "source", bucket.alias("bucket")).filter(
        F.col("bucket") < weight * 10000
    )


_MIX_CASE = " ".join(
    f"WHEN source = '{s}' THEN {w}" for s, w in MIX_WEIGHTS.items()
)
Q57_SQL = f"""
WITH b AS (
  SELECT doc_id, source,
    CAST('0x' || substring(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS bucket,
    CASE {_MIX_CASE} ELSE {MIX_DEFAULT_WEIGHT} END AS w
  FROM documents
)
SELECT doc_id, source, bucket FROM b WHERE bucket < w * 10000
"""


# --------------------------------------------------------------------------
# q118/q119: temperature-based mixture PLANNING — the op q57's fixed
# weight table doesn't cover: deriving the per-source sampling rates
# FROM the corpus. Standard LM-data practice (multilingual/multi-
# source upsampling, mT5-style): source s with token share p_s is
# sampled proportionally to p_s^alpha, alpha<1 flattening the mix so
# small sources aren't drowned; rates can exceed 1 (upsampling via
# repetition). Two graded stages: the per-source PLAN (q118, ~|sources|
# rows) and its per-doc materialization (q119: integer copy counts
# whose expectation matches the plan, deterministic salted-hash
# residual — the q57/q53 bucket trick).
MIX_TEMPERATURE_ALPHA = 0.3
MIX_TARGET_FRACTION = 0.5


def temperature_mix_plan(
    docs: DataFrame,
    alpha: float = MIX_TEMPERATURE_ALPHA,
    target_fraction: float = MIX_TARGET_FRACTION,
) -> DataFrame:
    """(source, n_docs, n_tokens, token_share, mix_weight,
    sample_rate, expected_tokens): the temperature-``alpha`` mixture
    plan against a token budget of ``target_fraction`` x the corpus.
    sample_rate is tokens-of-s-kept per token-of-s (a rate > 1 means
    the source repeats — its effective epoch count); expected_tokens
    = round6(rate x n_tokens) is the planned per-source budget.

    Scale shape: one narrow (source, tokens) aggregation, then
    arithmetic over |sources| rows — the totals broadcast. Exactness:
    round6 at every derived value, DECIMAL(18,6) sum for the weight
    normalizer (order-free), so the plan replays in ANSI SQL (q118's
    oracle)."""
    # persist BEFORE fan-out: the |sources|-row aggregate feeds the
    # totals, the share frame AND the weight normalizer — unpersisted,
    # each reference re-tokenizes the corpus (plan showed 4 scans)
    per = scoped_persist(
        docs.select("source", token_count_col().alias("_t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").alias("n_tokens"),
        )
    )
    totals = per.agg(
        F.sum("n_tokens").alias("_total_tokens")
    )
    shared = per.crossJoin(F.broadcast(totals)).withColumn(
        "token_share",
        round6(F.col("n_tokens") / F.col("_total_tokens").cast("double")),
    ).withColumn(
        "mix_weight", round6(F.pow(F.col("token_share"), F.lit(alpha)))
    )
    norm = shared.agg(
        F.sum(F.col("mix_weight").cast("decimal(18,6)")).alias("_wsum"),
        F.max("_total_tokens").alias("_total_tokens"),
    )
    return (
        shared.drop("_total_tokens")
        .crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "token_share",
            "mix_weight",
            round6(
                round6(
                    F.col("mix_weight") / F.col("_wsum").cast("double")
                )
                * F.floor(
                    F.col("_total_tokens") * F.lit(target_fraction)
                ).cast("double")
                / F.col("n_tokens")
            ).alias("sample_rate"),
        )
        .withColumn(
            "expected_tokens",
            round6(F.col("sample_rate") * F.col("n_tokens")),
        )
    )


def mixture_copies_col(rate_col: Column) -> Column:
    """The n_copies expression — floor(rate) guaranteed copies plus
    one residual copy when the doc's salted md5 bucket falls under the
    rate's fractional part (in ppm). ONE definition shared by the
    batch materializer (:func:`mixture_assignment`) and the streaming
    gate (``streaming.mixture_gate``), so their bit-equality contract
    cannot drift; reads ``doc_id`` from the enclosing frame."""
    from .dedup import hash60

    frac_ppm = F.round(
        (rate_col - F.floor(rate_col)) * F.lit(1_000_000), 0
    ).cast("long")
    bucket = hash60(
        F.concat(F.lit("mixrep_"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    return (
        F.floor(rate_col).cast("long")
        + F.when(bucket < frac_ppm, F.lit(1)).otherwise(F.lit(0))
    )


def mixture_assignment(
    docs: DataFrame,
    alpha: float = MIX_TEMPERATURE_ALPHA,
    target_fraction: float = MIX_TARGET_FRACTION,
    plan: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, source, n_copies): materialize the temperature plan
    as integer per-document copy counts — floor(rate) guaranteed
    copies plus one residual copy for the salted-hash fraction of
    docs matching the rate's fractional part, so E[n_copies] =
    sample_rate per source and the assignment is deterministic (same
    corpus -> bit-same copy counts). NOT append-stable: the rates are
    corpus-derived, so growing a source re-plans every source's rate
    (unlike q57's fixed-weight mix, whose verdicts never move) —
    pass a frozen ``plan`` when stability across appends matters, or
    to materialize a DIFFERENT planner's rates (e.g.
    :func:`dedup_adjusted_mix_plan` — without it this function
    re-derives the RAW temperature plan, which is NOT the dedup-
    adjusted pairing). ``plan`` is any (source, sample_rate) frame;
    sources absent from it get no rows (use the streaming gate's
    ``default_rate`` semantics if you need explicit zero verdicts for
    unplanned sources).
    Zero-copy rows are kept (n_copies = 0 IS the downsampling
    verdict); a consumer materializes with explode(sequence(1,
    n_copies)). Map-side after the broadcast plan join — no shuffle
    of documents."""
    if plan is None:
        plan = temperature_mix_plan(docs, alpha, target_fraction)
    plan = plan.select("source", "sample_rate")
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(plan), "source")
        .select(
            "doc_id",
            "source",
            mixture_copies_col(F.col("sample_rate")).alias("n_copies"),
        )
    )


def source_health(docs: DataFrame) -> DataFrame:
    """Per-source corpus-health report — the one-stop table a
    pipeline operator reads before deciding what to fix, drop, or
    re-weight: (source, n_docs, null_docs, n_tokens, n_unique,
    dup_rate, mean_quality, token_share). dup_rate is WITHIN-source
    exact duplication (1 - distinct content hashes / docs — the q25
    rule scoped per source), mean_quality the q22 score averaged with
    the order-free DECIMAL-sum convention, token_share the raw
    mixture input (compare with q121's dedup-adjusted share to see
    how much of a source's share is duplicated mass). ONE scan, one
    keyed aggregation, |sources| rows out.

    NULL-text accounting, made EXPLICIT via ``null_docs`` (the
    convention the streaming twin ``stream_source_health`` implements
    and tests): NULL-text docs count into ``n_docs`` but are absent
    from every sum and from the distinct-content count, so a
    NULL-heavy source reads as duplicate-heavy in ``dup_rate`` —
    ``null_docs`` is the column that says why (an all-NULL source
    shows n_unique 0, dup_rate 1.0, mean_quality NULL)."""
    q = quality_columns(docs)
    # persist BEFORE fan-out: the |sources|-row aggregate feeds the
    # health columns AND the token total (the q118 one-scan rule)
    per = scoped_persist(
        q.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("text").isNull(), 1).otherwise(0)
            ).cast("long").alias("null_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.count_distinct(F.md5("text")).alias("n_unique"),
            round6(
                F.sum(
                    F.col("quality_score").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_quality"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "null_docs",
        "n_tokens",
        "n_unique",
        round6(
            F.lit(1.0) - F.col("n_unique") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
        "mean_quality",
        round6(
            F.col("n_tokens") / F.col("_total").cast("double")
        ).alias("token_share"),
    )


def source_content_overlap(docs: DataFrame, k: int | None = None) -> DataFrame:
    """Cross-source duplicated-content matrix at SKETCH cost — the
    column q122 cannot carry: its dup_rate is WITHIN-source only, and
    q121's dedup-adjusted plan gives just the aggregate share
    correction, so "whose share is whose content" (source A's volume
    is largely copies of source B's pages) stays unanswered.
    (Renamed from source_overlap_matrix to stop colliding with
    ``dedup.source_overlap_matrix`` — q82, the EXACT shingle-set
    overlap; this family is its sketch-cost rung, see
    :func:`source_shingle_overlap` for the relationship.) One row
    per unordered source pair: (source_a, source_b, uniq_a, uniq_b,
    union_uniq, intersect_uniq, jaccard, containment_a_in_b,
    containment_b_in_a), where containment_a_in_b = |A ∩ B| / |A| is
    the fraction of A's DISTINCT content also present in B — the
    directional "whose content" answer (a mirror-heavy source reads
    containment ~1 against its origin).

    100 TB shape: this is q109's KMV set algebra
    (:func:`..events.kmv_overlap`) keyed on source over 60-bit content
    hashes — the corpus is scanned ONCE to build one k-hash sketch per
    source, and every pairwise question afterwards runs over k-row
    kept sets (pairs x kept joins), NEVER an exact all-pairs doc join.
    Estimates carry KMV error ~1/sqrt(k-2) and are exact below k
    distinct values; all arithmetic is the shared round6/deterministic
    convention, so the whole matrix is DuckDB-replayable (q123).
    NULL-text docs carry no content hash and are absent (they
    duplicate nothing)."""
    from .events import KMV_K, kmv_overlap

    kk = KMV_K if k is None else k
    return _containment_matrix(
        kmv_overlap(docs, "source", "text", kk), kk
    )


def _containment_matrix(base: DataFrame, k: int) -> DataFrame:
    """The q123 output shape from a ``kmv_overlap``-named pair frame —
    ONE definition shared by the batch matrix (raw docs) and the
    stream-state matrix (``streaming.source_overlap_from_health``).
    Containments come from the UNROUNDED clamped intersection (the
    jaccard convention: inputs are already-round6 estimates, the
    derived ratio rounds once) — bit-matches the SQL twin.

    ``below_noise_*``: True when the KMV error envelope at this ``k``
    exceeds the containment itself — the SCALING.md operational rule
    ("near-zero containments carry +/- the table's noise and are not
    evidence of overlap"), enforced in the schema so a dashboard
    cannot misread sketch noise as overlap (r12 verdict #6). The
    envelope is the conservative worst case: each input estimate is
    exact below ``k`` (error 0) and carries ~est/sqrt(k-2) above, and
    the three inclusion-exclusion terms' envelopes ADD (the measured
    k=64 max abs err 0.436 sits just under this bound's ~0.51). An
    exact-zero containment (all three sketches below k) has a zero
    envelope and is NOT flagged — it is a true zero."""
    inter_raw = F.greatest(
        F.col("users_a") + F.col("users_b") - F.col("union_users"),
        F.lit(0.0),
    )

    def _err(c: str):
        return F.when(F.col(c) < k, F.lit(0.0)).otherwise(
            F.col(c) / F.sqrt(F.lit(k - 2.0))
        )

    envelope = _err("users_a") + _err("users_b") + _err("union_users")
    cont_a = round6(inter_raw / F.col("users_a"))
    cont_b = round6(inter_raw / F.col("users_b"))
    return base.select(
        F.col("type_a").alias("source_a"),
        F.col("type_b").alias("source_b"),
        F.col("users_a").alias("uniq_a"),
        F.col("users_b").alias("uniq_b"),
        F.col("union_users").alias("union_uniq"),
        F.col("intersect_users").alias("intersect_uniq"),
        "jaccard",
        cont_a.alias("containment_a_in_b"),
        cont_b.alias("containment_b_in_a"),
        (cont_a < envelope / F.col("users_a")).alias(
            "below_noise_a_in_b"
        ),
        (cont_b < envelope / F.col("users_b")).alias(
            "below_noise_b_in_a"
        ),
    )


def q123_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_content_overlap(load_table(spark, sf_dir, "documents"))


def source_external_dup(docs: DataFrame, k: int | None = None) -> DataFrame:
    """One row per source: its WORST external-duplication partner —
    (source, partner, containment, jaccard), where containment is the
    largest fraction of this source's DISTINCT content also present
    in any other source (q123's directional column, reduced to the
    per-source answer an operator acts on: "mirror's content is 92%
    source X's — fix the crawl, or let the dedup-adjusted plan eat
    its share"). Ties break on partner name. Sources with no pair row
    (single-source corpora) are absent, as in q123.

    Cost: q123's sketch matrix (ONE corpus scan) + a |sources|²-row
    union and window — nothing doc-shaped moves."""
    return worst_partner_reduce(
        scoped_persist(source_content_overlap(docs, k))
    )


def worst_partner_reduce(matrix: DataFrame) -> DataFrame:
    """q125's reduce step over ANY q123-shaped matrix — shared by the
    batch operator (raw docs) and the live form
    (``streaming.source_overlap_from_health`` output), so the
    directional-explode + window definition cannot fork. ``matrix``
    should be persisted by the caller when it is expensive (it feeds
    two directional projections)."""
    from pyspark.sql import Window

    a = matrix.select(
        F.col("source_a").alias("source"),
        F.col("source_b").alias("partner"),
        F.col("containment_a_in_b").alias("containment"),
        "jaccard",
        F.col("below_noise_a_in_b").alias("below_noise"),
    )
    b = matrix.select(
        F.col("source_b").alias("source"),
        F.col("source_a").alias("partner"),
        F.col("containment_b_in_a").alias("containment"),
        "jaccard",
        F.col("below_noise_b_in_a").alias("below_noise"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("containment").desc(), F.col("partner").asc()
    )
    return (
        a.unionByName(b)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def q125_source_external_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return source_external_dup(load_table(spark, sf_dir, "documents"))


Q126_SHINGLE_N = 3


def source_shingle_overlap(
    docs: DataFrame, n: int = Q126_SHINGLE_N, k: int | None = None
) -> DataFrame:
    """q123's cross-source matrix at the NEAR-dup level: KMV overlap
    of the sources' distinct word-``n``-gram SHINGLE sets instead of
    whole-document content hashes — the "sources share templates"
    signal exact-CONTENT overlap (q123) cannot see (two crawls of the
    same site with different boilerplate wrappers share most shingles
    and zero exact pages). This question also has an EXACT rung:
    ``dedup.source_overlap_matrix`` (q82) equi-joins the distinct
    shingle hashes — exact jaccard, but the intersection join moves
    |distinct shingles| rows and omits zero-overlap pairs. This is
    its sketch-cost twin (the q26-exact vs q27-LSH ladder, applied to
    the source-pair level): k-row kept sets per source, every pair
    emitted, plus the directional containments q82 doesn't carry —
    with KMV error ~1/sqrt(k-2) (measured envelope in SCALING.md).
    Same output shape as q123 with shingle-set semantics: uniq_* are
    distinct-shingle estimates, containment_a_in_b the fraction of
    A's distinct shingles also in B. One corpus scan (shingle explode
    is map-side), then the shared sketch algebra — never a pairwise
    shingle join (graded: q126, oracle via the templated
    ``kmv_overlap_sql`` with an unnest prelude; ``n`` is threaded to
    the oracle through Q126_SHINGLE_N so the two cannot drift)."""
    from .dedup import shingles_col
    from .events import KMV_K, kmv_overlap

    sh = docs.where(F.col("text").isNotNull()).select(
        "source",
        F.explode(shingles_col("text", n)).alias("shingle"),
    )
    kk = KMV_K if k is None else k
    return _containment_matrix(
        kmv_overlap(sh, "source", "shingle", kk), kk
    )


def q126_source_shingle_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return source_shingle_overlap(load_table(spark, sf_dir, "documents"))


def _q126_sql() -> str:
    from .dedup import shingles_sql
    from .events import kmv_overlap_sql

    return kmv_overlap_sql(
        table="sh",
        key_col="source",
        value_col="shingle",
        names=(
            "source_a", "source_b", "uniq_a", "uniq_b",
            "union_uniq", "intersect_uniq",
        ),
        extra_select=_containment_extra_sql(),
        prelude=(
            "sh AS (\n"
            "  SELECT source, unnest("
            + shingles_sql("text", Q126_SHINGLE_N)
            + ") AS shingle\n"
            "  FROM documents WHERE text IS NOT NULL\n"
            "), "
        ),
    )


def _q125_sql() -> str:
    return f"""
WITH m AS ({_q123_sql()}),
u AS (
  SELECT source_a AS source, source_b AS partner,
         containment_a_in_b AS containment, jaccard,
         below_noise_a_in_b AS below_noise
  FROM m
  UNION ALL
  SELECT source_b, source_a, containment_b_in_a, jaccard,
         below_noise_b_in_a
  FROM m
), r AS (
  SELECT source, partner, containment, jaccard, below_noise,
    ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY containment DESC, partner
    ) AS rn
  FROM u
)
SELECT source, partner, containment, jaccard, below_noise
FROM r WHERE rn = 1
"""


def _containment_extra_sql(k: int | None = None) -> str:
    """The q123/q126 containment + noise-flag SELECT tail — the SQL
    twin of :func:`_containment_matrix`'s derived columns, one
    definition so the two graded oracles cannot drift. ``inter_raw``
    is substituted by ``kmv_overlap_sql``; the envelope arithmetic
    mirrors the Spark expressions term for term (same association
    order) so the booleans compare bit-equal doubles. ``k`` is the
    sketch size, threaded exactly like ``_containment_matrix(base,
    k)``'s (defaults to KMV_K — the graded oracles use the default,
    but a non-default caller must be able to keep both engines on the
    same envelope)."""
    from .events import KMV_K

    if k is None:
        k = KMV_K

    def err(e: str) -> str:
        return (
            f"(CASE WHEN {e} < {k} THEN 0.0 "
            f"ELSE {e} / sqrt({k} - 2.0) END)"
        )

    env = (
        f"({err('p.uniq_a')} + {err('p.uniq_b')} "
        f"+ {err('u.union_uniq')})"
    )
    return (
        ",\n  ROUND(inter_raw / p.uniq_a, 6) AS containment_a_in_b"
        ",\n  ROUND(inter_raw / p.uniq_b, 6) AS containment_b_in_a"
        f",\n  ROUND(inter_raw / p.uniq_a, 6) < {env} / p.uniq_a"
        "  AS below_noise_a_in_b"
        f",\n  ROUND(inter_raw / p.uniq_b, 6) < {env} / p.uniq_b"
        "  AS below_noise_b_in_a"
    )


def _q123_sql() -> str:
    from .events import kmv_overlap_sql

    return kmv_overlap_sql(
        table="documents",
        key_col="source",
        value_col="text",
        names=(
            "source_a", "source_b", "uniq_a", "uniq_b",
            "union_uniq", "intersect_uniq",
        ),
        extra_select=_containment_extra_sql(),
    )


def q122_source_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_health(load_table(spark, sf_dir, "documents"))


Q122_SQL = """
WITH t AS (
  SELECT source, md5(text) AS fp,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and'))) AS stop_hits
  FROM documents
), q AS (
  SELECT source, fp, n_tokens,
    ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
          + (1.0 - ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6)) * 0.5,
          6) AS quality_score
  FROM t
), per AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
    ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*), 6) AS mean_quality
  FROM q GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS total FROM per)
SELECT source, n_docs, null_docs, n_tokens, n_unique,
  ROUND(1.0 - n_unique / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
  mean_quality,
  ROUND(n_tokens / CAST(total AS DOUBLE), 6) AS token_share
FROM per CROSS JOIN tot
"""


def dedup_adjusted_mix_plan(
    docs: DataFrame,
    alpha: float = MIX_TEMPERATURE_ALPHA,
    target_fraction: float = MIX_TARGET_FRACTION,
) -> DataFrame:
    """:func:`temperature_mix_plan` over the exact-dedup CANONICAL
    subset (lowest-doc_id representative per content hash, the q25
    rule): raw token counts overweight duplicate-heavy sources — a
    source whose volume is 3x copies of the same page earns 3x the
    mixture share it deserves, and upsampling it repeats the SAME
    text. Planning on canonical docs gives shares that measure
    distinct content; pair with :func:`mixture_assignment`'s plan
    join over the deduped docs (or the streaming gate with this
    plan's rates). One extra semi-join against the (fp -> keeper)
    aggregate before the same one-scan plan.

    A source whose every doc duplicates LOWER-doc_id content of other
    sources has no canonical docs — it still gets a row, with zero
    counts and rate 0 (the q119 explicit-zero-verdict convention;
    silently dropping it would make the source "unplanned" downstream
    and mis-key joins against q118/q122 per-source rows)."""
    from .dedup import dedup_exact

    keep = dedup_exact(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    plan = temperature_mix_plan(
        docs.join(keep, "doc_id", "left_semi"), alpha, target_fraction
    )
    all_sources = docs.select("source").distinct()
    zero_long = F.lit(0).cast("long")
    return all_sources.join(plan, "source", "left").select(
        "source",
        F.coalesce("n_docs", zero_long).alias("n_docs"),
        F.coalesce("n_tokens", zero_long).alias("n_tokens"),
        F.coalesce("token_share", F.lit(0.0)).alias("token_share"),
        F.coalesce("mix_weight", F.lit(0.0)).alias("mix_weight"),
        F.coalesce("sample_rate", F.lit(0.0)).alias("sample_rate"),
        F.coalesce("expected_tokens", F.lit(0.0)).alias(
            "expected_tokens"
        ),
    )


class MixturePlan:
    """Persisted, frozen form of a mixture plan — the lifecycle the
    index families already have (save/load/staleness/rebuild rule),
    applied to the mixture surface: q118/q121 rates are CORPUS-DERIVED
    and documented not-append-stable, and ``streaming.mixture_gate``
    deliberately consumes a frozen plan, so the operational questions
    are "serve the frozen rates everywhere" (:meth:`rates`,
    :meth:`assign`) and "is my frozen plan stale against today's
    corpus" (:meth:`drift` + :func:`mixture_rebuild_verdict` +
    :meth:`maybe_rebuild` — the q114–q116 pattern).

    ``planner`` records WHICH planner froze the rates ('temperature'
    = :func:`temperature_mix_plan`, 'dedup_adjusted' =
    :func:`dedup_adjusted_mix_plan`); drift re-plans with the same
    one, so the report measures corpus movement, never a planner swap.

    On disk: ``plan/`` parquet (the |sources|-row plan frame) + a
    one-row ``meta/`` pinning (alpha, target_fraction, planner).
    ``save`` writes the WHOLE layout to a staging sibling and swaps
    it in with renames (the ``_staging.swap_in`` protocol; ``load``
    resolves the root across the crash window) — a re-save over an
    existing plan can therefore never leave a silently MIXED state
    (new rates under old meta), which a write-in-place overwrite
    would on a crash between the two datasets."""

    PLANNERS = ("temperature", "dedup_adjusted")

    def __init__(
        self,
        plan: DataFrame,
        alpha: float,
        target_fraction: float,
        planner: str = "temperature",
    ) -> None:
        if planner not in self.PLANNERS:
            raise ValueError(
                f"unknown planner {planner!r} (expected one of "
                f"{self.PLANNERS})"
            )
        self.plan = plan
        self.alpha = alpha
        self.target_fraction = target_fraction
        self.planner = planner

    def _replan(self, docs: DataFrame) -> DataFrame:
        fn = (
            temperature_mix_plan
            if self.planner == "temperature"
            else dedup_adjusted_mix_plan
        )
        return fn(docs, self.alpha, self.target_fraction)

    @staticmethod
    def build(
        docs: DataFrame,
        alpha: float = MIX_TEMPERATURE_ALPHA,
        target_fraction: float = MIX_TARGET_FRACTION,
        planner: str = "temperature",
    ) -> "MixturePlan":
        out = MixturePlan(None, alpha, target_fraction, planner)
        out.plan = out._replan(docs)
        return out

    def save(self, path: str) -> None:
        import os as _os
        import shutil as _shutil

        from ._staging import swap_in

        staging = path + ".staging"
        if _os.path.exists(staging):
            _shutil.rmtree(staging)
        self.plan.write.mode("overwrite").parquet(
            _os.path.join(staging, "plan")
        )
        self.plan.sparkSession.createDataFrame(
            [(float(self.alpha), float(self.target_fraction),
              self.planner)],
            "alpha double, target_fraction double, planner string",
        ).write.mode("overwrite").parquet(_os.path.join(staging, "meta"))
        swap_in(path, staging)
        # a re-save over a path a reader already planned against must
        # evict the stale file listings (the maybe_rebuild rule)
        self.plan.sparkSession.catalog.refreshByPath(
            _os.path.join(path, "plan")
        )
        self.plan.sparkSession.catalog.refreshByPath(
            _os.path.join(path, "meta")
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "MixturePlan":
        import os as _os

        from ._staging import resolve_live

        path = resolve_live(path)  # save-swap crash-window fallback
        meta = spark.read.parquet(_os.path.join(path, "meta")).collect()[0]
        # explicit schema: an empty-corpus plan has zero rows and no
        # part files to infer from (the screen-index load rule)
        plan = spark.read.schema(
            "source string, n_docs bigint, n_tokens bigint, "
            "token_share double, mix_weight double, "
            "sample_rate double, expected_tokens double"
        ).parquet(_os.path.join(path, "plan"))
        return MixturePlan(
            plan,
            float(meta["alpha"]),
            float(meta["target_fraction"]),
            str(meta["planner"]),
        )

    def rates(self) -> dict[str, float]:
        """The frozen (source -> sample_rate) dict
        ``streaming.mixture_gate`` consumes — |sources| rows collect
        (the plan IS driver-sized by construction)."""
        return {
            r["source"]: float(r["sample_rate"])
            for r in self.plan.select("source", "sample_rate").collect()
        }

    def assign(self, docs: DataFrame) -> DataFrame:
        """Materialize the FROZEN rates over ``docs`` — exactly
        :func:`mixture_assignment` with this plan (bit-equal to the
        streaming gate on the same rows, tested). For a
        'dedup_adjusted' plan pass the CANONICAL subset, the pairing
        that planner documents."""
        return mixture_assignment(docs, plan=self.plan)

    def drift(self, docs: DataFrame) -> DataFrame:
        """One-row frozen-plan drift report against the CURRENT corpus
        — the q114 pattern for the mixture surface (graded: q124).
        Re-plans ``docs`` with the same planner/knobs and compares:

        - n_sources_frozen / n_sources_now / growth_ratio: plan rows
          then vs now; current corpus tokens over frozen tokens.
        - share_drift_mad / share_drift_max: current-token-weighted
          mean (and worst) |token_share_now - token_share_frozen|
          over sources present in BOTH plans — how far the mixture
          the frozen rates were sized for has moved.
        - rate_drift_mad / rate_drift_max: same shape over
          |sample_rate_now - sample_rate_frozen| — the direct
          per-token budget misallocation a re-plan would correct.
        - new_source_mass: fraction of current tokens from sources
          the frozen plan never saw (the gate serves them
          ``default_rate`` — typically 0, i.e. silently dropped).

        Sources present now but token-starved, or frozen but now
        absent, carry zero current-token weight and drop out of the
        drift means (the q114 df_now=0 rule: rates for sources that
        are sampled never drift for nobody). Determinism: round6
        per-source values, DECIMAL(18,6) sums, integer counts — the
        report replays in ANSI SQL."""
        f = self.plan.select(
            "source",
            F.col("n_tokens").alias("tok_f"),
            F.col("token_share").alias("share_f"),
            F.col("sample_rate").alias("rate_f"),
        )
        n = self._replan(docs).select(
            "source",
            F.col("n_tokens").alias("tok_n"),
            F.col("token_share").alias("share_n"),
            F.col("sample_rate").alias("rate_n"),
        )
        both = F.col("share_f").isNotNull() & F.col("share_n").isNotNull()
        # the joined frame is |sources| rows — persist it: it feeds
        # the one-row totals AND the final aggregate
        j = scoped_persist(
            f.join(n, "source", "full_outer").withColumn(
                "_w",
                F.when(both, F.coalesce("tok_n", F.lit(0))).otherwise(0),
            )
        )
        # drift means weight by token SHARE (w / sum w), not raw token
        # counts: the per-term DECIMAL(18,6) sum then carries values
        # bounded by 1, so a 1e12-token source cannot overflow the 12
        # integer digits (Spark would NULL the term silently where the
        # DuckDB oracle ERRORS — a cross-engine divergence inside the
        # 100 TB envelope); mathematically identical (the scale
        # cancels), and the weights summing to 1 removes the
        # denominator divide entirely
        tot = j.agg(
            F.sum("_w").alias("_wtot"),
            F.sum(F.coalesce("tok_n", F.lit(0))).alias("_tn"),
            F.sum(F.coalesce("tok_f", F.lit(0))).alias("_tf"),
        )
        jt = j.crossJoin(F.broadcast(tot))
        wshare = F.col("_w") / F.nullif(
            F.col("_wtot"), F.lit(0)
        ).cast("double")

        def _mad(cur: str, frozen: str) -> Column:
            return round6(
                F.sum(
                    round6(
                        wshare * F.abs(F.col(cur) - F.col(frozen))
                    ).cast("decimal(18,6)")
                ).cast("double")
            )

        def _max(cur: str, frozen: str) -> Column:
            return F.max(
                F.when(
                    F.col("_w") > 0,
                    round6(F.abs(F.col(cur) - F.col(frozen))),
                )
            )

        return jt.agg(
            F.sum(F.when(F.col("share_f").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_sources_frozen"),
            F.sum(F.when(F.col("share_n").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_sources_now"),
            round6(
                F.max("_tn").cast("double")
                / F.nullif(F.max("_tf"), F.lit(0)).cast("double")
            ).alias("growth_ratio"),
            _mad("share_n", "share_f").alias("share_drift_mad"),
            _max("share_n", "share_f").alias("share_drift_max"),
            _mad("rate_n", "rate_f").alias("rate_drift_mad"),
            _max("rate_n", "rate_f").alias("rate_drift_max"),
            round6(
                F.sum(
                    F.when(
                        F.col("share_f").isNull(),
                        F.coalesce("tok_n", F.lit(0)),
                    ).otherwise(0)
                ).cast("double")
                / F.nullif(F.max("_tn"), F.lit(0)).cast("double")
            ).alias("new_source_mass"),
        )

    def maybe_rebuild(self, docs: DataFrame, path: str | None = None,
                      **thresholds):
        """drift -> :func:`mixture_rebuild_verdict` -> re-plan, in one
        call: when the verdict trips, re-plan over ``docs`` (same
        planner/knobs), overwrite ``path`` if given, and return the
        fresh plan. Returns (plan, verdict, report_row) — ``plan`` is
        ``self`` untouched when the verdict says fresh enough."""
        report = self.drift(docs).collect()[0]
        verdict = mixture_rebuild_verdict(report, **thresholds)
        if not verdict.rebuild:
            return self, verdict, report
        out = MixturePlan.build(
            docs, self.alpha, self.target_fraction, self.planner
        )
        if path is not None:
            out.save(path)
            out = MixturePlan.load(docs.sparkSession, path)
        return out, verdict, report


def mixture_rebuild_verdict(
    report,
    share_drift_mad_threshold: float = 0.02,
    share_drift_max_threshold: float = 0.05,
    new_source_mass_threshold: float = 0.05,
    rate_drift_max_threshold: float = 0.5,
) -> "RebuildVerdict":
    """Apply the frozen-plan rebuild rule to a collected
    :meth:`MixturePlan.drift` row. Triggers (measured in the test
    suite: a 2x same-distribution append moves every metric to ~0 and
    trips nothing; tripling ONE of twenty equal sources lands
    share_drift_mad 0.018 / share_drift_max 0.093 — the corpus-wide
    MAD dilutes a single-source shift, which is exactly what the max
    trigger is for):

    - share_drift_mad > ``share_drift_mad_threshold``: the mixture
      the rates were sized for has moved corpus-wide — the frozen
      plan now over- or under-samples sources by that weighted share
      error on average.
    - share_drift_max > ``share_drift_max_threshold``: SOME source's
      share moved that many absolute points (the single-source-shift
      signature the MAD averages away).
    - new_source_mass > ``new_source_mass_threshold``: that fraction
      of today's tokens belongs to sources the gate serves
      ``default_rate`` (usually 0 — silently dropped mass).
    - rate_drift_max > ``rate_drift_max_threshold``: some source's
      effective epoch count is off by half an epoch or more.

    growth_ratio alone is NOT a trigger — same-distribution growth
    keeps shares (and therefore rates) fixed; NULL metrics (empty or
    disjoint corpora) are absent evidence, not triggers."""
    from .similarity import RebuildVerdict, _report_dict

    cur = _report_dict(report)
    reasons = []

    def _over(key, threshold):
        v = cur.get(key)
        return v is not None and v > threshold

    if _over("share_drift_mad", share_drift_mad_threshold):
        reasons.append(
            f"share_drift_mad {cur['share_drift_mad']} > "
            f"{share_drift_mad_threshold} (the mixture the frozen "
            "rates were sized for has moved)"
        )
    if _over("share_drift_max", share_drift_max_threshold):
        reasons.append(
            f"share_drift_max {cur['share_drift_max']} > "
            f"{share_drift_max_threshold} (a single source's share "
            "moved that far — the shift the corpus-wide MAD dilutes)"
        )
    if _over("new_source_mass", new_source_mass_threshold):
        reasons.append(
            f"new_source_mass {cur['new_source_mass']} > "
            f"{new_source_mass_threshold} (unplanned sources take the "
            "gate's default_rate — typically dropped mass)"
        )
    if _over("rate_drift_max", rate_drift_max_threshold):
        reasons.append(
            f"rate_drift_max {cur['rate_drift_max']} > "
            f"{rate_drift_max_threshold} (a source's effective epoch "
            "count is materially off)"
        )
    return RebuildVerdict(bool(reasons), tuple(reasons))


def q124_mixture_plan_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graded frozen-plan drift: freeze a temperature plan on the
    even-doc_id half of the corpus, measure drift against the whole —
    the q114/q115/q116 staleness family applied to the mixture
    surface. Self-contained (the frozen plan is derived in-query) so
    the oracle replays every stage."""
    docs = load_table(spark, sf_dir, "documents")
    frozen = MixturePlan.build(docs.where(F.col("doc_id") % 2 == 0))
    return frozen.drift(docs)


def q118_temperature_mix_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return temperature_mix_plan(load_table(spark, sf_dir, "documents"))


def q121_dedup_adjusted_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup_adjusted_mix_plan(load_table(spark, sf_dir, "documents"))


def q119_mixture_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return mixture_assignment(load_table(spark, sf_dir, "documents"))


def _mix_plan_sql(src: str = "documents", prelude: str = "") -> str:
    """The q118 plan SQL templated on its source relation — q121
    replays the same chain over the exact-dedup canonical subset."""
    return f"""
WITH {prelude}per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM {src} GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per),
shared AS (
  SELECT source, n_docs, n_tokens,
    ROUND(n_tokens / CAST(total_tokens AS DOUBLE), 6) AS token_share,
    ROUND(POW(ROUND(n_tokens / CAST(total_tokens AS DOUBLE), 6),
              {MIX_TEMPERATURE_ALPHA}), 6) AS mix_weight,
    total_tokens
  FROM per CROSS JOIN tot
), norm AS (
  SELECT SUM(CAST(mix_weight AS DECIMAL(18,6))) AS wsum,
         MAX(total_tokens) AS total_tokens
  FROM shared
), plan AS (
  SELECT source, n_docs, n_tokens, token_share, mix_weight,
    ROUND(ROUND(mix_weight / CAST(wsum AS DOUBLE), 6)
          * FLOOR(norm.total_tokens * {MIX_TARGET_FRACTION})
          / n_tokens, 6) AS sample_rate
  FROM shared CROSS JOIN norm
)
SELECT source, n_docs, n_tokens, token_share, mix_weight, sample_rate,
  ROUND(sample_rate * n_tokens, 6) AS expected_tokens
FROM plan
"""


Q118_SQL = _mix_plan_sql()

# q124: the frozen plan (even-doc_id half) and the current plan are
# BOTH the q118 chain, templated on their source relation, full-outer
# joined on source — the drift arithmetic mirrors MixturePlan.drift
# expression for expression (weights = current-token SHARE over
# sources in BOTH plans, so the per-term DECIMAL(18,6) values are
# bounded by 1 and cannot overflow at any corpus size; round6
# per-source, NULLIF guards).
Q124_SQL = f"""
WITH fro AS ({_mix_plan_sql(
    src="halfdocs",
    prelude=(
        "halfdocs AS (SELECT * FROM documents WHERE doc_id % 2 = 0), "
    ),
)}),
nowp AS ({_mix_plan_sql()}),
j AS (
  SELECT fro.n_tokens AS tok_f, fro.token_share AS share_f,
         fro.sample_rate AS rate_f,
         nowp.n_tokens AS tok_n, nowp.token_share AS share_n,
         nowp.sample_rate AS rate_n,
         CASE WHEN fro.token_share IS NOT NULL
                   AND nowp.token_share IS NOT NULL
              THEN COALESCE(nowp.n_tokens, 0) ELSE 0 END AS w
  FROM fro FULL OUTER JOIN nowp ON fro.source = nowp.source
), tot AS (
  SELECT SUM(w) AS wtot,
         SUM(COALESCE(tok_n, 0)) AS tn,
         SUM(COALESCE(tok_f, 0)) AS tf
  FROM j
)
SELECT
  CAST(SUM(CASE WHEN share_f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_sources_frozen,
  CAST(SUM(CASE WHEN share_n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_sources_now,
  ROUND(MAX(tn) / CAST(NULLIF(MAX(tf), 0) AS DOUBLE), 6)
    AS growth_ratio,
  ROUND(CAST(SUM(CAST(ROUND((w / CAST(NULLIF(wtot, 0) AS DOUBLE))
                            * ABS(share_n - share_f), 6)
                      AS DECIMAL(18,6))) AS DOUBLE), 6)
    AS share_drift_mad,
  MAX(CASE WHEN w > 0
           THEN ROUND(ABS(share_n - share_f), 6) END)
    AS share_drift_max,
  ROUND(CAST(SUM(CAST(ROUND((w / CAST(NULLIF(wtot, 0) AS DOUBLE))
                            * ABS(rate_n - rate_f), 6)
                      AS DECIMAL(18,6))) AS DOUBLE), 6)
    AS rate_drift_mad,
  MAX(CASE WHEN w > 0
           THEN ROUND(ABS(rate_n - rate_f), 6) END)
    AS rate_drift_max,
  ROUND(SUM(CASE WHEN share_f IS NULL THEN COALESCE(tok_n, 0)
                 ELSE 0 END)
        / CAST(NULLIF(MAX(tn), 0) AS DOUBLE), 6)
    AS new_source_mass
FROM j CROSS JOIN tot
"""

_Q121_PLAN_SQL = _mix_plan_sql(
    src="canon",
    prelude=(
        "keep AS (\n"
        "  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)\n"
        "), canon AS (\n"
        "  SELECT d.* FROM documents d JOIN keep USING (doc_id)\n"
        "), "
    ),
)

Q121_SQL = f"""
WITH plan AS ({_Q121_PLAN_SQL})
SELECT s.source,
  COALESCE(p.n_docs, 0) AS n_docs,
  COALESCE(p.n_tokens, 0) AS n_tokens,
  COALESCE(p.token_share, 0.0) AS token_share,
  COALESCE(p.mix_weight, 0.0) AS mix_weight,
  COALESCE(p.sample_rate, 0.0) AS sample_rate,
  COALESCE(p.expected_tokens, 0.0) AS expected_tokens
FROM (SELECT DISTINCT source FROM documents) s
LEFT JOIN plan p USING (source)
"""

# q119's oracle replays the plan CTE chain and applies the salted-hash
# residual per doc (same md5 bucket family as q53/q57).
Q119_SQL = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per),
shared AS (
  SELECT source, n_tokens,
    ROUND(POW(ROUND(n_tokens / CAST(total_tokens AS DOUBLE), 6),
              {MIX_TEMPERATURE_ALPHA}), 6) AS mix_weight,
    total_tokens
  FROM per CROSS JOIN tot
), norm AS (
  SELECT SUM(CAST(mix_weight AS DECIMAL(18,6))) AS wsum,
         MAX(total_tokens) AS total_tokens
  FROM shared
), plan AS (
  SELECT source,
    ROUND(ROUND(mix_weight / CAST(wsum AS DOUBLE), 6)
          * FLOOR(norm.total_tokens * {MIX_TARGET_FRACTION})
          / n_tokens, 6) AS sample_rate
  FROM shared CROSS JOIN norm
)
SELECT d.doc_id, d.source,
  CAST(FLOOR(p.sample_rate) AS BIGINT)
  + CASE WHEN CAST('0x' || substring(md5('mixrep_' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
         < CAST(ROUND((p.sample_rate - FLOOR(p.sample_rate)) * 1000000, 0) AS BIGINT)
    THEN 1 ELSE 0 END AS n_copies
FROM documents d JOIN plan p USING (source)
"""


# --------------------------------------------------------------------------
# q58: decontamination — flag training documents that share any
# 3-gram shingle with the held-out test split (q53's buckets). The
# shingle join moves 8-byte hashes only and is a LEFT SEMI join, so
# nothing is duplicated and the output is bounded by the train set.
def q58_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hashed_shingles

    docs = load_table(spark, sf_dir, "documents")
    with_split = docs.withColumn("split", split_col())
    # feeds BOTH split sides: persist so the tokenize+md5 pass runs once
    sh = scoped_persist(hashed_shingles(with_split, 3))
    splits = with_split.select("doc_id", "split")
    train_sh = sh.join(
        splits.filter(F.col("split") == "train"), "doc_id"
    ).select("doc_id", "h")
    test_sh = (
        sh.join(splits.filter(F.col("split") == "test"), "doc_id")
        .select("h")
        .distinct()
    )
    return (
        train_sh.join(test_sh, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )


Q58_SQL = """
WITH split AS (
  SELECT doc_id, text,
    CASE WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
         WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split,
    CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h
  FROM (
    SELECT doc_id, split,
      unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS shingle
    FROM split
  )
)
SELECT DISTINCT t.doc_id, TRUE AS contaminated
FROM (SELECT doc_id, h FROM sh WHERE split = 'train') t
JOIN (SELECT DISTINCT h FROM sh WHERE split = 'test') x USING (h)
"""


# --------------------------------------------------------------------------
# q59: repetition / boilerplate signals (the Gopher-style quality
# filters: repeated-token fraction and top-bigram fraction — C4/Gopher
# drop documents whose most frequent n-gram dominates). Entirely
# map-only: per-document array expressions (JVM higher-order
# functions), no shuffle until the tiny final aggregation a caller
# might add — the shape that scales linearly with the scan. The
# within-document top-bigram search is O(k²) on k = tokens per doc,
# driver-free and embarrassingly parallel. The oracle computes the
# same stats with an explode + window formulation — different
# implementation, same semantics.
def repetition_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = f"split({text_col}, ' ')"
    bigrams = (
        f"CASE WHEN size({toks}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - 1),"
        f" i -> concat_ws(' ', slice({toks}, i, 2))) END"
    )
    return (
        df.withColumn("n_tokens", F.expr(f"size({toks})"))
        .withColumn("n_distinct_tokens", F.expr(f"size(array_distinct({toks}))"))
        .withColumn(
            "repeated_token_frac",
            round6(
                F.lit(1.0)
                - F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")),
        )
        .withColumn("_bg", F.expr(bigrams))
        # max bigram multiplicity = longest equal-run of the SORTED
        # bigram array — O(n log n) per doc and still map-only, where
        # the previous filter-per-distinct-bigram fold was O(n²) in
        # document length (measured ~10x on the sf0.1 corpus: 74 s →
        # 7 s for the gated-pipeline stage on 8 cores; q59 alone runs
        # 1.96 s at sf0.1 / 2.7 s at sf1 on 32). Value is identical by
        # definition, so the q59 oracle is untouched.
        .withColumn(
            "top_bigram_count",
            F.expr(
                "aggregate(array_sort(_bg),"
                " struct(cast('' as string) as prev, 0 as run, 0 as best),"
                " (acc, x) -> struct(x,"
                "   if(x = acc.prev, acc.run + 1, 1),"
                "   greatest(acc.best, if(x = acc.prev, acc.run + 1, 1))),"
                " acc -> acc.best)"
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.when(
                F.size("_bg") > 0,
                round6(
                    F.col("top_bigram_count").cast("double") / F.size("_bg")),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_bg")
    )


def q59_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_columns(docs).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "repeated_token_frac",
        "top_bigram_count",
        "top_bigram_frac",
    )


Q59_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens,
    len(list_distinct(toks)) AS n_distinct_tokens, toks
  FROM t
), bg AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                          i -> array_to_string(toks[i:i+1], ' '))) AS bigram
  FROM base
), bg_counts AS (
  SELECT doc_id, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
), bg_top AS (
  SELECT doc_id, MAX(c) AS top_bigram_count, CAST(SUM(c) AS BIGINT) AS n_bigrams
  FROM bg_counts GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
  ROUND(1.0 - CAST(b.n_distinct_tokens AS DOUBLE) / b.n_tokens, 6)
    AS repeated_token_frac,
  CAST(COALESCE(g.top_bigram_count, 0) AS INT) AS top_bigram_count,
  COALESCE(ROUND(CAST(g.top_bigram_count AS DOUBLE) / g.n_bigrams, 6), 0.0)
    AS top_bigram_frac
FROM base b LEFT JOIN bg_top g USING (doc_id)
"""


# --------------------------------------------------------------------------
# q61: corpus TF-IDF — top terms ranked by summed tf-idf. The classic
# vocabulary/term-weighting pass a curation pipeline runs to surface
# boilerplate and topical terms. Scale shape: explode → ONE grouped
# aggregation with map-side partial combine (count + count distinct in
# the same shuffle); the corpus size joins in as a broadcast 1-row
# aggregate; top-k compiles to TakeOrdered (no full sort). Skew on
# ubiquitous tokens is absorbed by partial aggregation — per-partition
# combiners reduce each token to one row before the shuffle.
def q61_tfidf_top_terms(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    stats = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = round6(
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("doc_freq") + 1)))
    return (
        stats.crossJoin(F.broadcast(n))
        .withColumn("idf", idf)
        .withColumn("score", round6(F.col("total_tf") * F.col("idf")))
        .select("term", "doc_freq", "total_tf", "idf", "score")
        .orderBy(F.desc("score"), "term")
        .limit(k)
    )


Q61_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), stats AS (
  SELECT term, COUNT(*) AS total_tf, COUNT(DISTINCT doc_id) AS doc_freq
  FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, doc_freq, total_tf,
  ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (doc_freq + 1)), 6) AS idf,
  ROUND(total_tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (doc_freq + 1)), 6),
        6) AS score
FROM stats CROSS JOIN n
ORDER BY score DESC, term LIMIT 20
"""


# --------------------------------------------------------------------------
# PII scrubbing — library surface (not a graded query: the synthetic
# corpus contains no digits or '@', so a corpus-level scan would be
# degenerately all-zero; semantics are pinned by unit tests on
# constructed rows instead). Patterns avoid lookarounds so Java
# (Spark) and RE2 (DuckDB) dialects agree, should a caller want an
# oracle on a real corpus.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII match counts (one int column per pattern).
    Map-only: regexp_extract_all inside whole-stage codegen."""
    for kind, pat in PII_PATTERNS.items():
        df = df.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
        )
    return df


def redact_pii(
    df: DataFrame, text_col: str = "text", replacement: str = "<PII>"
) -> DataFrame:
    """Replace every PII match in ``text_col`` with ``replacement``.
    Chained JVM-side regexp_replace — no Python in the row path."""
    out = F.col(text_col)
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, replacement)
    return df.withColumn(text_col, out)


# --------------------------------------------------------------------------
# q63: corpus bigram-novelty stats — the LM-flavored quality signal a
# curation pipeline uses to separate novel prose from boilerplate
# without an actual language model: per document, how common are its
# word bigrams across the corpus? High avg document frequency = the
# doc is made of phrases everyone uses (boilerplate/templates); a high
# hapax fraction = mostly corpus-unique phrasing. All statistics are
# integer ratios (no transcendentals), so Spark and the oracle agree
# bit-for-bit after rounding.
#
# Scale shape: bigrams are per-doc distinct (array_distinct) and join
# on the shared 60-bit hash — only 8-byte keys shuffle, one
# aggregation for the document-frequency table, one bigram-keyed join,
# one per-doc aggregation. No corpus-sized broadcast; AQE may
# broadcast the df table only if it genuinely fits.
def q63_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hash60, shingles_col

    docs = load_table(spark, sf_dir, "documents")
    # One persisted bigram-hash set feeds BOTH the df aggregation and
    # the join (same shape as q26's shared shingle set): the
    # md5-per-bigram projection runs once, not twice.
    bg = scoped_persist(docs.select(
        "doc_id", F.explode(shingles_col("text", 2)).alias("b")
    ).select("doc_id", hash60(F.col("b")).alias("h")))
    dfc = bg.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        bg.join(dfc, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round6(F.avg(F.col("df").cast("double"))).alias("avg_df"),
            round6(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                / F.count(F.lit(1))).alias("frac_hapax"),
            F.max("df").alias("max_df"),
        )
    )


def _q63_sql() -> str:
    from .dedup import hash60_sql, shingles_sql

    return f"""
WITH bg AS (
  SELECT doc_id, {hash60_sql('b')} AS h
  FROM (SELECT doc_id, unnest({shingles_sql('text', 2)}) AS b FROM documents)
), dfc AS (
  SELECT h, COUNT(*) AS df FROM bg GROUP BY h
)
SELECT doc_id, COUNT(*) AS n_bigrams,
  ROUND(AVG(CAST(df AS DOUBLE)), 6) AS avg_df,
  ROUND(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS frac_hapax,
  MAX(df) AS max_df
FROM bg JOIN dfc USING (h)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q74: passage-level dedup census — sub-document granularity (the
# C4/RefinedWeb-style pipeline op: boilerplate repeats as passages
# inside otherwise-distinct documents). Documents chunk into
# non-overlapping 8-word passages (trailing partial kept); a passage
# OCCURRENCE is duplicated when its hash appears more than once in
# the corpus (within-doc repeats count). Per source: passage count,
# duplicated occurrences, duplicate fraction — integer ratios only.
# Scale shape: only 8-byte passage hashes shuffle (one df aggregation,
# one hash join, one per-source aggregation).
PASSAGE_WORDS = 8


def passages_col(text: str = "text", n: int = PASSAGE_WORDS) -> Column:
    """Non-overlapping n-word chunks (NOT deduped within doc)."""
    toks = f"split({text}, ' ')"
    return F.expr(
        f"transform(sequence(1, CAST(ceil(size({toks}) / {n}.0) AS INT)),"
        f" i -> concat_ws(' ', slice({toks}, (i - 1) * {n} + 1, {n})))"
    )


def q74_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    occ = scoped_persist(docs.select(
        "source", F.explode(passages_col()).alias("p")
    ).select("source", hash60(F.col("p")).alias("h")))
    dfc = occ.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        occ.join(dfc, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup"),
            round6(
                F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
                / F.count(F.lit(1))).alias("dup_frac"),
        )
    )


def _q74_sql() -> str:
    from .dedup import hash60_sql

    n = PASSAGE_WORDS
    toks = "string_split(text, ' ')"
    passages = (
        f"list_transform(generate_series(1, CAST(ceil(len({toks}) / {n}.0) AS INT)),"
        f" i -> array_to_string({toks}[(i - 1) * {n} + 1 : (i - 1) * {n} + {n}], ' '))"
    )
    return f"""
WITH occ AS (
  SELECT source, {hash60_sql('p')} AS h
  FROM (SELECT source, unnest({passages}) AS p FROM documents)
), dfc AS (
  SELECT h, COUNT(*) AS n_occ FROM occ GROUP BY h
)
SELECT source, COUNT(*) AS n_passages,
  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
    AS dup_frac
FROM occ JOIN dfc USING (h)
GROUP BY source
"""


# --------------------------------------------------------------------------
# q76: bigram language-model scoring — the CCNet-style quality filter:
# train an add-one-smoothed bigram LM on the corpus, score every
# document by its average negative log-likelihood (high = unusual /
# low-quality text). Scale shape: TWO model aggregations (unigram and
# bigram counts, both with map-side partial combine — hot tokens like
# "the" are reduced per-partition before the shuffle), then the
# per-instance joins back to the model run on the bigram/unigram keys
# where AQE's skew-join splitting absorbs the Zipf head; the vocab
# scalar joins as a broadcast 1-row aggregate. At 100 TB the model
# tables are the distinct-n-gram sets — orders of magnitude smaller
# than the corpus — and everything else is map-only.
#
# Float parity: per-bigram log-prob is rounded to 6 places and summed
# as DECIMAL(18,6) — an EXACT, order-independent sum — so Spark and
# DuckDB agree bit-for-bit despite different aggregation orders (the
# convention from operators/relational.py).
def q76_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t"))
    # one persisted bigram-instance set feeds the model aggregation AND
    # the scoring join — without it the plan scans + re-tokenizes the
    # corpus once per consumer (4 text scans observed in the static
    # plan; 2 after)
    bi = scoped_persist(
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) < 2 THEN array() ELSE"
                    " transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2)) END"
                )
            ).alias("b"),
        ).select("doc_id", "b.w1", "b.w2")
    )
    # vocabulary-sized; feeds the vocab scalar AND the scoring join
    uni = scoped_persist(
        t.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("vocab"))
    logp = round6(
        F.log(
            (F.col("c2") + F.lit(1.0))
            / (F.col("c1") + F.col("vocab")).cast("double")
        )
    ).cast("decimal(18,6)")
    return (
        bi.join(bc, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round6(
                -F.sum(logp).cast("double") / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
    )


Q76_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), bi AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
    SELECT doc_id,
      unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                            i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
    FROM t
  )
), uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1
), bc AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2
), v AS (SELECT COUNT(*) AS vocab FROM uni)
SELECT doc_id, COUNT(*) AS n_bigrams,
  ROUND(-CAST(SUM(CAST(ROUND(ln((c2 + 1.0) / (c1 + vocab)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_nll
FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q77: contamination SCORING — where q58 drops any train document that
# shares a single shingle with the test split, q77 reports the graded
# per-document overlap fraction (the signal an auditing pipeline
# thresholds). Scale shape: the join moves 8-byte shingle hashes only;
# the benchmark-side set is distinct-reduced before the join (in
# production it is a small broadcast — here it stays a shuffle join so
# AQE picks); ONE groupBy(doc_id) computes total and overlap in the
# same shuffle via a left-join flag.
def q77_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import hashed_shingles

    docs = load_table(spark, sf_dir, "documents")
    with_split = docs.withColumn("split", split_col())
    # feeds BOTH split sides: persist so the tokenize+md5 pass runs once
    sh = scoped_persist(hashed_shingles(with_split, 3))
    splits = with_split.select("doc_id", "split")
    train_sh = sh.join(
        splits.filter(F.col("split") == "train"), "doc_id"
    ).select("doc_id", "h")
    test_sh = (
        sh.join(splits.filter(F.col("split") == "test"), "doc_id")
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        train_sh.join(test_sh, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            hits.cast("long").alias("n_overlap"),
            round6(hits.cast("double") / F.count(F.lit(1))).alias(
                "overlap_frac"
            ),
        )
    )


Q77_SQL = """
WITH split AS (
  SELECT doc_id, text,
    CASE WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
         WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
), sh AS (
  SELECT doc_id, split,
    CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h
  FROM (
    SELECT doc_id, split,
      unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
        i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS shingle
    FROM split
  )
)
SELECT t.doc_id, COUNT(*) AS n_shingles,
  CAST(SUM(CASE WHEN x.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_overlap,
  ROUND(CAST(SUM(CASE WHEN x.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS overlap_frac
FROM (SELECT doc_id, h FROM sh WHERE split = 'train') t
LEFT JOIN (SELECT DISTINCT h FROM sh WHERE split = 'test') x USING (h)
GROUP BY t.doc_id
"""


# --------------------------------------------------------------------------
# q78: BM25 retrieval scoring — the ranking function a retrieval-
# augmented pipeline uses where q61's TF-IDF only weights vocabulary.
# The query-term set is data-derived (top-3 document-frequency terms,
# deterministic ties-by-term) so the query needs no external input.
# Scale shape: tf / doc-length / df are partial-combined aggregations;
# the query-term set (3 rows) and the corpus aggregate (1 row)
# broadcast; the scoring join runs co-partitioned on doc_id. Float
# parity: avgdl is an exact integer sum over count; per-term scores
# round to 6 then sum as DECIMAL(18,6) (exact, order-independent).
BM25_K1 = 1.2
BM25_B = 0.75


def q78_bm25_topk(
    spark: SparkSession, sf_dir: str, k: int = 20, n_query_terms: int = 3
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(tokens_col()).alias("term"))
    # tf feeds the df aggregation AND the scoring join; persisting it
    # halves the corpus scans (and dl derives from tf, not from a
    # third tokenization: dlen = sum of term frequencies)
    tf = scoped_persist(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dlen").cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    qterms = stats.orderBy(F.desc("df"), "term").limit(n_query_terms)
    idf = round6(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ))
    score = round6(
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dlen") / F.col("avgdl")
            )
        )).cast("decimal(18,6)")
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn("s", score)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("s").cast("double").alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
    )


Q78_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, COUNT(*) AS dlen FROM terms GROUP BY doc_id
), stats AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), corpus AS (
  SELECT COUNT(*) AS n_docs,
    CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), qterms AS (
  SELECT term, df FROM stats ORDER BY df DESC, term LIMIT 3
), scored AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      ROUND(ln((n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0), 6)
      * (tf.tf * {BM25_K1 + 1.0})
      / (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dlen / avgdl)),
      6) AS DECIMAL(18,6)) AS s
  FROM tf JOIN qterms q USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
)
SELECT doc_id, COUNT(*) AS n_matched, CAST(SUM(s) AS DOUBLE) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 20
"""


# --------------------------------------------------------------------------
# q80: sliding-window chunking with overlap — the retrieval/context-
# window preprocessing step (split each document into CHUNK_TOKENS-
# token windows every CHUNK_STRIDE tokens, adjacent chunks overlapping
# by CHUNK_TOKENS - CHUNK_STRIDE tokens). Map-only: sequence + explode
# + slice are all JVM-side higher-order functions, no shuffle at all —
# at 100 TB this is a pure scan→write job whose output is addressed by
# (doc_id, chunk_id) and hashed for downstream chunk-level dedup.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


def sliding_chunks(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_hash) sliding windows.

    A chunk starts at every ``stride``-th token offset below the token
    count; the final chunks are allowed to run short (the tail of the
    document is never dropped). The chunk text itself leaves the plan
    only as an md5 — downstream chunk-dedup joins move 16-byte hashes,
    not text.
    """
    toks = docs.select(
        "doc_id", tokens_col(text_col).alias("_toks")
    )
    start = F.explode(
        F.sequence(F.lit(0), F.size("_toks") - 1, F.lit(stride))
    )
    chunk = F.slice(F.col("_toks"), F.col("start") + 1, chunk_tokens)
    return (
        toks.withColumn("start", start)
        .withColumn("chunk", chunk)
        .select(
            "doc_id",
            (F.col("start") / stride).cast("int").alias("chunk_id"),
            F.size("chunk").alias("n_chunk_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


def q80_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sliding_chunks(docs)


Q80_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS start FROM t),
c AS (SELECT doc_id, start // {CHUNK_STRIDE} AS chunk_id,
             toks[start + 1 : start + {CHUNK_TOKENS}] AS chunk FROM s)
SELECT doc_id, chunk_id, len(chunk) AS n_chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c
"""


# --------------------------------------------------------------------------
# q81: deterministic stratified sampling — per-source sampling rates
# applied via a salted content-free hash of the key, so the sample is
# reproducible on any engine and any cluster size (no RNG state, no
# per-partition seed coupling). Map-only predicate: at 100 TB the
# sample IS a filter pushed over the scan; only the audit aggregation
# shuffles (5 rows). The same shape serves train/validation carve-outs
# (q53) and source-weighted corpus mixing (q57); this variant reports the
# per-source realized fraction so a pipeline can assert its mix.
SAMPLE_RATES = {"src0": 50, "src1": 25, "src2": 10, "src3": 75}
SAMPLE_DEFAULT_PCT = 100


def stratified_sample_flag(
    rates: dict[str, int] | None = None,
    default_pct: int = SAMPLE_DEFAULT_PCT,
    id_col: str = "doc_id",
    strata_col: str = "source",
    salt: str = "strat_",
) -> Column:
    """Boolean keep-flag: hash(salt || id) % 100 < pct(strata)."""
    from .dedup import hash60

    rates = SAMPLE_RATES if rates is None else rates
    bucket = F.pmod(
        hash60(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(100)
    )
    pct = F.lit(default_pct)
    for src, p in rates.items():
        pct = F.when(F.col(strata_col) == src, F.lit(p)).otherwise(pct)
    return bucket < pct


def q81_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("_keep", stratified_sample_flag())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("_keep").cast("long")).alias("n_sampled"),
            round6(
                F.sum(F.col("_keep").cast("long")).cast("double")
                / F.count(F.lit(1))).alias("sampled_frac"),
            F.sum(
                F.when(F.col("_keep"), F.col("n_chars")).otherwise(F.lit(0))
            ).alias("sampled_chars"),
            F.min(F.when(F.col("_keep"), F.col("doc_id"))).alias(
                "first_sampled_doc"
            ),
        )
    )


def _rates_case_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in SAMPLE_RATES.items()
    )
    return f"CASE {whens} ELSE {SAMPLE_DEFAULT_PCT} END"


def _q81_sql() -> str:
    # compose hash60_sql so the oracle tracks the shared hash convention
    from .dedup import hash60_sql

    return f"""
WITH flagged AS (
  SELECT *,
    ({hash60_sql("'strat_' || CAST(doc_id AS VARCHAR)")} % 100)
      < ({_rates_case_sql()}) AS keep
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS sampled_frac,
  CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars,
  MIN(CASE WHEN keep THEN doc_id END) AS first_sampled_doc
FROM flagged GROUP BY source
"""


Q81_SQL = _q81_sql()


# --------------------------------------------------------------------------
# q84: adaptive per-source quality gate — instead of one global
# quality threshold (which over-prunes clean sources and under-prunes
# noisy ones), drop the bottom QUALITY_GATE_PCT quality fraction
# WITHIN EACH SOURCE. One window over
# (source, quality, doc_id): a single shuffle on source, ranking state
# only — at 100 TB this is the cheap adaptive filter you run instead
# of hand-tuning per-source thresholds.
QUALITY_GATE_PCT = 0.25


def quality_percentile_gate(
    docs: DataFrame, pct: float = QUALITY_GATE_PCT
) -> DataFrame:
    """Drop the bottom ``pct`` quality fraction of each source.

    The gate is the INTEGER rule rank > floor(pct * n) over the
    per-source ascending (quality_score, doc_id) order — exact on any
    engine (no float comparison decides membership), deterministic
    (doc_id breaks quality ties), and well-behaved on tiny strata: a
    1-doc source keeps its document (floor(0.25*1)=0 dropped) where a
    percent_rank >= pct gate would silently erase the whole source
    (percent_rank of a 1-row partition is 0). ``q_pct`` — rounded
    percent_rank — is reported for observability but never gates.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    return (
        quality_columns(docs)
        .withColumn("q_pct", round6(F.percent_rank().over(w)))
        .withColumn("_rank", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wn))
        .filter(
            F.col("_rank") > F.floor(F.lit(pct) * F.col("_n")).cast("long")
        )
        .select("doc_id", "source", "quality_score", "q_pct")
    )


def q84_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_percentile_gate(docs)


Q84_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_hits
  FROM documents
), q AS (
  SELECT doc_id, source,
    ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
          + (1.0 - ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6)) * 0.5, 6) AS quality_score
  FROM t
), ranked AS (
  SELECT doc_id, source, quality_score,
    ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality_score, doc_id), 6) AS q_pct,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS rnk,
    COUNT(*) OVER (PARTITION BY source) AS n
  FROM q
)
SELECT doc_id, source, quality_score, q_pct
FROM ranked WHERE rnk > CAST(floor({QUALITY_GATE_PCT} * n) AS BIGINT)
"""


# --------------------------------------------------------------------------
# q85: token-budget corpus selection — fill a fixed per-source token
# budget with the highest-quality documents first (the greedy knapsack
# every pretraining-mix recipe actually runs). One window per source:
# rank by (quality DESC, doc_id), running token total, keep while the
# cumulative count stays inside the budget. All-integer window
# arithmetic — exact on any engine; one shuffle on source.
TOKEN_BUDGET_PER_SOURCE = 800


def token_budget_selection(
    docs: DataFrame, budget: int = TOKEN_BUDGET_PER_SOURCE
) -> DataFrame:
    """Greedy quality-first selection under a per-source token budget.

    Returns the selected docs with their selection rank and running
    token total (``cum_tokens`` ≤ budget). A document that would
    overflow the budget is skipped along with everything ranked below
    it (prefix rule — deterministic and O(1) window state; true
    knapsack packing is NP-hard and not what data pipelines run).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        quality_columns(docs)
        .withColumn("sel_rank", F.row_number().over(w))
        .withColumn(
            "cum_tokens",
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("cum_tokens") <= F.lit(budget))
        .select(
            "doc_id", "source", "n_tokens", "quality_score",
            "sel_rank", "cum_tokens",
        )
    )


def q85_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_selection(docs)


Q85_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_hits
  FROM documents
), q AS (
  SELECT doc_id, source, n_tokens,
    ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
          + (1.0 - ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6)) * 0.5, 6) AS quality_score
  FROM t
), ranked AS (
  SELECT doc_id, source, n_tokens, quality_score,
    ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id) AS sel_rank,
    SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality_score DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM q
)
SELECT doc_id, source, n_tokens, quality_score, sel_rank, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
"""


# --- q95: BPE-denominated token budget ------------------------------------
#
# q85's greedy quality-first selection, but the budget is counted in
# SUBWORD tokens from the frozen BPE merge table — what a training
# pipeline actually budgets in (whitespace counts miscount 1.3-1.7x
# and vary by language). The quality MODEL is unchanged (same score,
# same per-source ordering); only the budget denominator changes, so
# q85-vs-q95 differences isolate the token-counting effect.
BPE_BUDGET_PER_SOURCE = 1200


def bpe_token_budget_selection(
    docs: DataFrame, budget: int = BPE_BUDGET_PER_SOURCE
) -> DataFrame:
    """Greedy quality-first selection under a per-source BPE-token
    budget (prefix rule, same as :func:`token_budget_selection`).

    Scale shape: the BPE count joins back per doc from the
    distinct-vocabulary encode (``bpe_token_stats`` — one Arrow-batched
    pass over DISTINCT words, not the corpus), then one window per
    source. Docs with zero words carry no budget weight and are
    excluded (they have no token cost and no content).
    """
    from pyspark.sql import Window

    from ..functions.bpe import bpe_token_stats

    stats = (
        bpe_token_stats(docs)
        .filter(F.col("n_words") > 0)
        .select("doc_id", "n_bpe_tokens")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        quality_columns(docs)
        .select("doc_id", "source", "quality_score")
        .join(stats, "doc_id")
        .withColumn("sel_rank", F.row_number().over(w))
        .withColumn(
            "cum_bpe_tokens",
            F.sum("n_bpe_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("cum_bpe_tokens") <= F.lit(budget))
        .select(
            "doc_id", "source", "n_bpe_tokens", "quality_score",
            "sel_rank", "cum_bpe_tokens",
        )
    )


def q95_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_budget_selection(docs)


def _q95_sql() -> str:
    from ..functions.bpe import bpe_vtok_ctes

    return f"""
WITH RECURSIVE {bpe_vtok_ctes()}, doc_bpe AS (
  SELECT w.doc_id, CAST(SUM(v.n_tokens) AS BIGINT) AS n_bpe_tokens
  FROM wtok w JOIN vtok v ON v.word = w.word
  GROUP BY w.doc_id
), t AS (
  SELECT doc_id, source,
    len(string_split(text, ' ')) AS n_tokens,
    len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS stop_hits
  FROM documents
), q AS (
  SELECT doc_id, source,
    ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.5
          + (1.0 - ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6)) * 0.5, 6) AS quality_score
  FROM t
), ranked AS (
  SELECT q.doc_id, q.source, b.n_bpe_tokens, q.quality_score,
    ROW_NUMBER() OVER (PARTITION BY q.source ORDER BY q.quality_score DESC, q.doc_id) AS sel_rank,
    SUM(b.n_bpe_tokens) OVER (PARTITION BY q.source ORDER BY q.quality_score DESC, q.doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bpe_tokens
  FROM q JOIN doc_bpe b ON b.doc_id = q.doc_id
)
SELECT doc_id, source, n_bpe_tokens, quality_score, sel_rank,
       CAST(cum_bpe_tokens AS BIGINT) AS cum_bpe_tokens
FROM ranked WHERE cum_bpe_tokens <= {BPE_BUDGET_PER_SOURCE}
"""


# --- q97: BPE-denominated sequence packing --------------------------------
#
# q54's greedy shard assignment (running token total, floor-divided by
# the shard budget) with the count denominated in frozen-merge subword
# tokens — the unit a training run actually packs context windows by.
# Zero-word docs carry no packable content and are excluded (inner
# join against the distinct-vocab counts, mirrored by the oracle).
BPE_PACK_BUDGET = 2000


def bpe_pack(docs: DataFrame) -> DataFrame:
    """q97's packing as a reusable transform (also the batch path of
    the streaming :func:`~aerovaldb_spark.streaming.bpe_pack_gate`)."""
    from pyspark.sql import Window

    from ..functions.bpe import bpe_token_stats

    stats = (
        bpe_token_stats(docs)
        .filter(F.col("n_words") > 0)
        .select("doc_id", "n_bpe_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_bpe_tokens").over(w)
    return (
        docs.select("doc_id", "source")
        .join(stats, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_bpe_tokens",
            F.floor(
                (cum - F.col("n_bpe_tokens")) / BPE_PACK_BUDGET
            ).alias("shard_id"),
        )
    )


def q97_bpe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_pack(load_table(spark, sf_dir, "documents"))


def _q97_sql() -> str:
    from ..functions.bpe import bpe_vtok_ctes

    return f"""
WITH RECURSIVE {bpe_vtok_ctes()}, doc_bpe AS (
  SELECT w.doc_id, CAST(SUM(v.n_tokens) AS BIGINT) AS n_bpe_tokens
  FROM wtok w JOIN vtok v ON v.word = w.word
  GROUP BY w.doc_id
), c AS (
  SELECT d.doc_id, d.source, b.n_bpe_tokens,
    SUM(b.n_bpe_tokens) OVER (PARTITION BY d.source ORDER BY d.doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents d JOIN doc_bpe b ON b.doc_id = d.doc_id
)
SELECT doc_id, source, n_bpe_tokens,
  CAST(FLOOR((cum - n_bpe_tokens) / {BPE_PACK_BUDGET}.0) AS BIGINT) AS shard_id
FROM c
"""


# --------------------------------------------------------------------------
# q99: sparse TF-IDF cosine kNN graph — for every document, its top-m
# most similar documents (unit-normalized tf-idf cosine >= threshold)
# by an EXACT prefix-filtered self-join (AllPairs / PPJoin family,
# Bayardo et al. WWW'07; Xiao et al. WWW'08 — public papers). This is
# the classic sparse-vector near-dup pass that complements shingle
# Jaccard (q26) and dense-embedding dedup (q93/q96): inverted-index
# candidate generation with a provable prefix bound instead of
# all-pairs, then exact verification over shared terms only.
#
# Algorithm (exact — no candidate the bound admits is a false
# negative):
#   1. tf-idf weights per (doc, term), idf = ln((n+1)/(df+1)) as in
#      q61; vectors unit-normalized.
#   2. Global term order = rarity-first (df ASC, term ASC). A doc's
#      PREFIX is every position i whose suffix norm ||x[i:]|| >= t:
#      if two unit vectors' first shared term g sits outside either
#      prefix, cos(x,y) <= ||x[g:]|| * ||y[g:]|| < t — so every
#      qualifying pair shares a term inside BOTH prefixes.
#   3. Candidates = prefix-to-prefix equi-join on term, tightened by
#      the positional bound sufnorm_a * sufnorm_b >= t per join row
#      (the first shared term maximizes that product, so filtering
#      rows before the pair-distinct keeps exactly the pairs whose
#      first-shared-term bound passes).
#   4. Verify candidates only: DECIMAL(18,6) sum of round6'd weight
#      products over shared terms (order-independent, bit-identical
#      to the DuckDB oracle's all-pairs spec), then per-doc top-m by
#      (cosine DESC, neighbor_id) — output is <= m*n rows at ANY
#      corpus density (the q93->q96 lesson: fixed-threshold pair sets
#      are output-explosive on dense corpora; the kNN-graph form is
#      the production near-dup artifact and is linear in n).
#
# Scale shape: one explode + two keyed aggs build weights; the prefix
# join shuffles only prefix rows (rarity-first order keeps ubiquitous
# terms out of prefixes unless a doc's residual mass still clears t);
# verification joins move (pair, term, weight) keyed rows — never
# text; the final window is per-doc over <= candidate-degree rows.
# Candidate volume is output-sensitive: on this template-dense
# synthetic corpus prefixes keep ~1/3 of rows (measured sf0.01:
# 3803/11695 prefix rows, 113k candidates vs 125k all-shared-term
# pairs, 4.1k true pairs at t=0.8); on a realistically diverse vocab
# the prefix fraction and candidate count collapse — the bound only
# helps when suffix mass decays, which Zipfian template text defeats
# by design. The oracle is the semantic spec (all-pairs shared-term
# join + window); the Spark side is the scale path.
def tfidf_weight_frame(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Unit-normalized round6 tf-idf weights: ``(w, stats, n)`` where
    ``w`` is (doc_id, term, df, w) for every doc with a nonzero norm,
    ``stats`` is (term, df) and ``n`` the 1-row corpus count. Shared
    by batch q99 and the streaming ``tfidf_dup_gate`` so the weight
    definition cannot drift between the two."""
    # (doc_id, term, tf) — one explode, one keyed agg
    terms = (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    terms = scoped_persist(terms)
    stats = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = round6(
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
    )
    w0 = scoped_persist(
        terms.join(stats, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "df",
            (F.col("tf") * idf).alias("w_raw"),
        )
    )
    # order-independent exact norm: DECIMAL sum of round6'd squares
    # (the q76 pattern), then one deterministic sqrt
    norms = w0.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(
                round6(F.col("w_raw") * F.col("w_raw")).cast("decimal(18,6)")
            ).cast("double")
        ).alias("nrm")
    )
    w = scoped_persist(
        w0.join(norms, "doc_id")
        .where(F.col("nrm") > 0)
        .select(
            "doc_id",
            "term",
            "df",
            round6(F.col("w_raw") / F.col("nrm")).alias("w"),
        )
    )
    return w, stats, n


def _map_dot_col(ma: str = "ma", mb: str = "mb"):
    """Exact decimal dot of two (term -> round6 weight) map columns:
    sum of round6'd per-term products over the SHARED keys, as
    DECIMAL(18,6) — the one verification convention q99 and q102 must
    share bit-for-bit (the accumulation is exact, so map iteration
    order is irrelevant).

    The accumulation runs in LONG MICROS: each addend
    ``round6(x*y)::decimal(18,6)`` is an exact multiple of 1e-6 whose
    integer micros ``floor(x*y*1e6 + 0.5)`` recovers directly —
    ``F.round(v, 0)``'s shortest-repr HALF_UP provably equals
    half-away on the binary double at scale 0 (the _round module's
    validated model), and the weights are nonnegative, so
    ``floor(a + 0.5)`` IS that rounding with ``a = x*y*1e6`` the very
    product ``round6`` computes. Summing the exact integer micros in
    a bigint fold and converting once at the end is therefore
    bit-identical to the old per-term decimal cast + decimal fold,
    while the per-element work drops from interpreted decimal
    arithmetic (BigDecimal allocation per shared term — measured 23 s
    of q99's 35 s wall at sf0.1) to a long add."""
    micros = F.aggregate(
        F.map_values(
            F.map_zip_with(
                ma,
                mb,
                lambda k, x, y: F.when(
                    x.isNotNull() & y.isNotNull(),
                    F.floor(x * y * F.lit(1_000_000.0) + F.lit(0.5)),
                ),
            )
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.coalesce(x, F.lit(0).cast("bigint")),
    )
    return (micros / F.lit(1_000_000.0)).cast("decimal(18,6)")


def _weight_map_frame(w: DataFrame) -> DataFrame:
    """(doc_id, m): each doc's (term -> weight) map — the verification
    side's compact form (joined per candidate instead of exploding to
    (pair, term) rows; see the trade-off note in _verified_dots)."""
    return scoped_persist(
        w.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "w"))
            ).alias("m")
        )
    )


def _term_id_frame(left_w: DataFrame, right_w: DataFrame) -> DataFrame:
    """(term, tid): 1-based integer ids over the UNION of both weight
    frames' vocabularies — the Arrow verify's integer key space.
    Injective and covering BOTH sides, so tid equality ⇔ term equality
    for every lookup the verify performs (the verify needs nothing
    more — not density, not global order).

    Assignment is PARALLEL (guide §2.4 — the previous global
    row_number() windowed over Window.orderBy was an Exchange
    SinglePartition + sort of the whole vocabulary, the verify path's
    serial ceiling at 100 TB corpora): terms hash into B buckets
    (xxhash64 — deterministic), each bucket ranks its own terms by a
    within-partition sort, and tid = (rank-1)·B + bucket + 1 — a
    stride interleave that is injective because bucket < B and
    (rank, bucket) is unique per term. Everything is deterministic
    (hash + fixed B + total order within bucket), so the two
    weight-array materializations that read this frame always see the
    same mapping.

    Ceiling: ids must stay below 2^31 (the arrays carry them as int32
    and the Arrow kernel packs tid into the low 32 bits of its
    composite key) — max tid ≈ B · max_bucket_size ≈ |vocabulary| ·
    (max/mean bucket skew, ~1 under xxhash64 for |V| ≫ B), so the
    union vocabulary is capped at ~2^31 terms, the same bound the old
    dense row_number had."""
    from pyspark.sql import Window

    t = left_w.select("term")
    if right_w is not left_w:
        t = t.union(right_w.select("term"))
    spark = left_w.sparkSession
    try:
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nb = spark.sparkContext.defaultParallelism
    nb = max(nb, 1)
    rn = F.row_number().over(
        Window.partitionBy("_b").orderBy("term")
    )
    return (
        t.distinct()
        .withColumn(
            "_b", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int")
        )
        .repartition(nb, "_b")
        .select(
            "term",
            (
                (rn - 1).cast("bigint") * F.lit(nb) + F.col("_b") + 1
            ).cast("int").alias("tid"),
        )
    )


def _weight_array_frame(w: DataFrame, tids: DataFrame) -> DataFrame:
    """(doc_id, ts, ws): each doc's weights as PARALLEL arrays sorted
    by term id — ts array<int> ascending, ws array<double> aligned
    (tids stay below 2^31 by the `_term_id_frame` ceiling, so int32
    always holds them; the narrower id halves the key bytes every
    candidate pair hauls through the verify joins and the Arrow
    boundary — guide §2.3 narrower types).
    The Arrow verify's per-doc representation: a sorted-int zip of the
    same (term → w) pairs `_weight_map_frame` carries as a map. Built
    from ONE sorted struct list so the two arrays cannot desync.

    The dictionary join is deliberately UNHINTED: the tid frame is
    |vocabulary| rows, which grows (sublinearly) with the corpus — a
    baked-in broadcast would be the scale ceiling. AQE broadcasts it
    when it fits (it does at every bench scale), and falls back to a
    shuffle join of two keyed frames when it doesn't."""
    return scoped_persist(
        w.join(tids, "term")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("tid", "w"))
            ).alias("_es")
        )
        .select(
            "doc_id",
            F.transform("_es", lambda e: e["tid"]).alias("ts"),
            F.transform("_es", lambda e: e["w"]).alias("ws"),
        )
    )


def _arrow_micros(joined: DataFrame, left_id: str, right_id: str) -> DataFrame:
    """(left_id, right_id, _micros): the exact long-micros dot over
    candidate rows carrying both sides' sorted term-id/weight arrays
    (ta/wa/tb/wb) — `mapInArrow`, so the per-batch work is vectorized
    numpy over the Arrow list buffers with NO per-row Python objects.

    Bit-identity with the `_map_dot_col` fold: the matched (tid) pairs
    are exactly the shared terms (ids injective over the union
    vocabulary — _term_id_frame); each match contributes
    ``floor((wa*wb)*1e6 + 0.5)`` with the same IEEE multiply order and
    the same floor; the int64 sum is exact and order-free like the
    bigint fold; a pair with a NULL side or no shared terms emits
    micros=0, the value the fold path's coalesce(dot, 0) produces.
    The caller applies the identical ``(/1e6) cast decimal(18,6)``
    tail, so map == keyed == arrow stays bit-for-bit (fuzz-tested).

    Scale posture: nothing touches the driver; the heavy per-pair
    arrays stream executor-local through the Arrow boundary once
    (guide §4.2), and the output is 24 bytes/pair."""
    import pyarrow as pa

    id_fields = [
        joined.schema[left_id].dataType.simpleString(),
        joined.schema[right_id].dataType.simpleString(),
    ]
    out_schema = (
        f"{left_id} {id_fields[0]}, {right_id} {id_fields[1]}, "
        "_micros bigint"
    )

    def _flat(col):
        """(values ndarray, per-row effective lengths, row starts) of
        a list column; null rows count as length 0."""
        import numpy as np

        arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
        offs = np.asarray(arr.offsets)
        vals = np.asarray(arr.values)
        lens = (offs[1:] - offs[:-1]).astype(np.int64)
        valid = np.asarray(arr.is_valid())
        lens = np.where(valid, lens, 0)
        return vals, lens, offs[:-1].astype(np.int64)

    def _take_idx(starts, lens):
        """(row ids, flat gather indices) for per-row slices
        [start, start+len) — fully vectorized."""
        import numpy as np

        n = int(lens.sum())
        rows = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
        cum = np.concatenate(
            ([0], np.cumsum(lens[:-1], dtype=np.int64))
        )
        intra = np.arange(n, dtype=np.int64) - cum[rows]
        return rows, starts[rows] + intra

    def fn(batches):
        import numpy as np

        for b in batches:
            n = b.num_rows
            ta_v, ta_l, ta_s = _flat(b.column("ta"))
            wa_v, _, _ = _flat(b.column("wa"))
            tb_v, tb_l, tb_s = _flat(b.column("tb"))
            wb_v, _, _ = _flat(b.column("wb"))
            micros = np.zeros(n, dtype=np.int64)
            if n and ta_l.sum() and tb_l.sum():
                rows_a, idx_a = _take_idx(ta_s, ta_l)
                rows_b, idx_b = _take_idx(tb_s, tb_l)
                # row-major composite keys: rows ascending, tids
                # ascending within each row (sort_array upstream) →
                # both key arrays are GLOBALLY sorted; tid < 2^31 by
                # construction (_term_id_frame's documented ceiling)
                ka = rows_a * np.int64(1 << 32) + ta_v[idx_a]
                kb = rows_b * np.int64(1 << 32) + tb_v[idx_b]
                pos = np.searchsorted(kb, ka)
                pos_ok = pos < len(kb)
                hit = np.zeros(len(ka), dtype=bool)
                hit[pos_ok] = kb[pos[pos_ok]] == ka[pos_ok]
                if hit.any():
                    prod = wa_v[idx_a[hit]] * wb_v[idx_b[pos[hit]]]
                    m = np.floor(prod * 1e6 + 0.5).astype(np.int64)
                    np.add.at(micros, rows_a[hit], m)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(left_id),
                    b.column(right_id),
                    pa.array(micros, type=pa.int64()),
                ],
                names=[left_id, right_id, "_micros"],
            )

    return joined.select(
        left_id, right_id, "ta", "wa", "tb", "wb"
    ).mapInArrow(fn, out_schema)


# auto verify-shape switch point (avg terms/doc): below it the map
# form's whole-vector carry is cheap and it saves the (pair, term)
# exchange + re-agg (measured 60s -> 40s at sf0.1 on the template
# corpus, avg ~25 terms/doc — SCALING.md); above it each candidate row
# hauls two long vectors while the keyed join would move only
# shared-term rows, so book-length documents flip the choice. 512 ~
# the point where the map carry (2 x avg terms x ~16B/entry ~ 16 KB
# per candidate) clearly dominates one extra keyed exchange.
TFIDF_VERIFY_KEYED_MIN_AVG_TERMS = 512.0


def _avg_terms_per_doc(w: DataFrame) -> float:
    """Cheap statistic driving the auto verify-shape choice: total
    weight rows / approx distinct docs (approx is fine — this picks a
    plan shape, not a result)."""
    row = w.agg(
        F.count(F.lit(1)).alias("c"),
        F.approx_count_distinct("doc_id").alias("d"),
    ).collect()[0]
    return row["c"] / max(row["d"], 1)


def _verified_dots(
    cand: DataFrame,
    left_w: DataFrame,
    right_w: DataFrame,
    left_id: str,
    right_id: str,
    shape: str = "auto",
) -> DataFrame:
    """(left_id, right_id, dot): the exact DECIMAL dot of round6'd
    per-term products over candidate pairs, in one of three selectable
    plan shapes (bit-identical by construction — all sum the SAME
    decimal terms, and decimal addition is exact and order-free;
    property-tested equal on fuzzed corpora):

    - ``map``: join each side's per-doc vector onto the candidate list
      — sorted term-id/weight parallel arrays — and compute each
      pair's dot as one vectorized Arrow merge-intersect
      (:func:`_arrow_micros`). Carries both WHOLE vectors per
      candidate but avoids exploding to (pair, term) rows and
      re-aggregating — wins when docs are short or candidates share
      most of their mass (the near-dup regime; removed a ~260M-row
      exchange at sf0.1, SCALING.md).
    - ``keyed``: join the candidate pair to both sides' (term, w) rows
      on term and re-aggregate per pair. Moves only SHARED-term rows
      (<= min(|a|, |b|) per pair) at the price of the exchange +
      groupBy — the right shape for very long documents with thin
      overlaps.
    - ``map_fold``: the map shape's previous pure-JVM form — (term →
      weight) map columns joined per candidate and folded per pair
      with map_zip_with. Selectable for cross-checks and environments
      without a Python worker; pinned bit-equal to ``map`` in tests.

    All three shapes left-join back onto the candidate list and emit
    dot=0 for pairs that share zero terms OR reference a doc absent
    from the weight frame (zero-norm), so the equivalence holds for
    ANY candidate frame, not only under a positive-threshold filter
    downstream.

    ``auto``: ``keyed`` iff either side's avg terms/doc exceeds
    TFIDF_VERIFY_KEYED_MIN_AVG_TERMS, else ``map``; it never picks
    ``map_fold``, which is selectable only explicitly. NOTE: this
    probe is an EAGER Spark action (one tiny aggregate per distinct
    side) executed at plan-CONSTRUCTION time; the weight frames are
    scoped_persist'd by their builders, so it materializes the cache
    the main plan reads rather than doing the pipeline twice.
    """
    if shape == "auto":
        avg = _avg_terms_per_doc(left_w)
        if avg <= TFIDF_VERIFY_KEYED_MIN_AVG_TERMS and right_w is not left_w:
            avg = max(avg, _avg_terms_per_doc(right_w))
        shape = (
            "keyed" if avg > TFIDF_VERIFY_KEYED_MIN_AVG_TERMS else "map"
        )
    if shape == "keyed":
        wa = left_w.select(
            F.col("doc_id").alias(left_id), "term", F.col("w").alias("_wa")
        )
        wb = right_w.select(
            F.col("doc_id").alias(right_id), "term", F.col("w").alias("_wb")
        )
        # aggregate over DISTINCT pairs: a duplicated candidate row
        # would otherwise contribute its term products once per copy
        # (doubling the dot), where the map shape scores each copy
        # independently — the left-join-back below re-fans duplicates
        # so multiplicity still matches the map shape row-for-row
        inner = (
            cand.select(left_id, right_id)
            .distinct()
            .join(wa, left_id)
            .join(wb, [right_id, "term"])
            .groupBy(left_id, right_id)
            .agg(
                # exact long-micros sum — the same accumulation
                # convention as _map_dot_col (each addend's integer
                # micros recovered by the validated scale-0 rounding
                # identity), so keyed == map stays bit-for-bit while
                # the aggregate runs as a codegen long sum instead of
                # a widening decimal sum
                (
                    F.sum(
                        F.floor(
                            F.col("_wa")
                            * F.col("_wb")
                            * F.lit(1_000_000.0)
                            + F.lit(0.5)
                        )
                    )
                    / F.lit(1_000_000.0)
                )
                .cast("decimal(18,6)")
                .alias("dot")
            )
        )
        # a candidate pair sharing ZERO terms vanishes from the inner
        # join — left-join back onto the candidate list and coalesce
        # to dot=0, the same rule the map shape applies to pairs whose
        # doc has no weight rows at all, so the two shapes stay
        # bit-identical UNCONDITIONALLY, not only under the callers'
        # positive-threshold filters (prefix candidates always share a
        # term today; a future caller without that invariant must not
        # silently diverge between shapes)
        return cand.select(left_id, right_id).join(
            inner, [left_id, right_id], "left"
        ).select(
            left_id,
            right_id,
            F.coalesce(
                F.col("dot"), F.lit(0).cast("decimal(18,6)")
            ).alias("dot"),
        )
    if shape == "map":
        # Arrow-vectorized map shape (guide §4.2): same LEFT joins and
        # the same dot=0 rule as the fold form below, but each side
        # carries sorted term-id/weight PARALLEL ARRAYS and the
        # per-pair dot runs as one vectorized numpy merge-intersect
        # per Arrow batch instead of an interpreted per-element fold
        # (measured 14 s → ~3 s on the q99 verify stage at sf0.1).
        # Bit-identity argument at _arrow_micros; 'map_fold' keeps the
        # pure-JVM fold selectable (and pinned equal in tests).
        tids = _term_id_frame(left_w, right_w)
        la = _weight_array_frame(left_w, tids)
        ra = la if right_w is left_w else _weight_array_frame(right_w, tids)
        joined = (
            cand.select(left_id, right_id)
            .join(
                la.select(
                    F.col("doc_id").alias(left_id),
                    F.col("ts").alias("ta"),
                    F.col("ws").alias("wa"),
                ),
                left_id,
                "left",
            )
            .join(
                ra.select(
                    F.col("doc_id").alias(right_id),
                    F.col("ts").alias("tb"),
                    F.col("ws").alias("wb"),
                ),
                right_id,
                "left",
            )
        )
        return _arrow_micros(joined, left_id, right_id).select(
            left_id,
            right_id,
            (F.col("_micros") / F.lit(1_000_000.0))
            .cast("decimal(18,6)")
            .alias("dot"),
        )
    if shape != "map_fold":
        raise ValueError(
            "verify_shape must be 'map', 'map_fold', 'keyed' or "
            f"'auto', got {shape!r}"
        )
    lmap = _weight_map_frame(left_w)
    rmap = (
        lmap if right_w is left_w else _weight_map_frame(right_w)
    )
    # LEFT joins + coalesce: a candidate referencing a doc with no
    # weight rows (zero-norm doc, filtered by the weight builders)
    # scores dot=0 instead of vanishing — the exact rule the keyed
    # shape applies via its left-join-back, so map == keyed holds for
    # EVERY candidate frame, not only ones derived from the weight
    # frame (unreachable from current callers; pinned by test)
    return (
        cand.select(left_id, right_id)
        .join(
            lmap.select(
                F.col("doc_id").alias(left_id), F.col("m").alias("ma")
            ),
            left_id,
            "left",
        )
        .join(
            rmap.select(
                F.col("doc_id").alias(right_id), F.col("m").alias("mb")
            ),
            right_id,
            "left",
        )
        .withColumn(
            "dot",
            F.coalesce(
                _map_dot_col(), F.lit(0).cast("decimal(18,6)")
            ),
        )
        .select(left_id, right_id, "dot")
    )


def tfidf_cosine_knn(
    docs: DataFrame,
    threshold: float = 0.8,
    max_neighbors: int = 10,
    verify_shape: str = "auto",
) -> DataFrame:
    """Exact TF-IDF cosine kNN graph over ``docs`` (doc_id, neighbor_id,
    cosine, nn_rank): AllPairs/PPJoin-filtered candidate self-join, exact
    DECIMAL verify, per-doc top-``max_neighbors``.

    NOTE: the default ``verify_shape='auto'`` runs one small EAGER
    aggregate at construction time to pick the verify plan shape (see
    :func:`_verified_dots`); pass ``'map'``, ``'keyed'`` or
    ``'map_fold'`` explicitly for fully lazy composition.
    """
    w, _stats, _n = tfidf_weight_frame(docs)
    cand = tfidf_allpairs_candidates(w, threshold)
    dots = scoped_persist(
        _verified_dots(cand, w, w, "doc_a", "doc_b", verify_shape).where(
            F.col("dot").cast("double") >= threshold
        )
    )
    return _knn_from_verified(dots, max_neighbors)


def _tfidf_prefix_frame(w: DataFrame, threshold: float) -> DataFrame:
    """The AllPairs/PPJoin prefix frame over a weight frame: per-doc
    rarity-ordered rows surviving the suffix-norm prefix filter, with
    the per-row residual (sufnext), per-doc max weight, L1 and term
    count the join-time bounds need. Persisted — it feeds both sides
    of the candidate self-join.

    Candidate bounds must dominate what VERIFICATION computes: a sum
    of round6'd per-term products, each of which can exceed the
    exact product by <= 5e-7 — so every bound carries a slack of
    5e-7 * (max possible shared-term count) on top of the float eps.
    Slack only OVER-generates (verification is exact, so extra
    candidates cost time, never correctness), and at ~5e-7 * nterms
    it is numerically invisible in the candidate counts."""
    from pyspark.sql import Window

    sufw = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sufw_next = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").asc(), F.col("term").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    docw = Window.partitionBy("doc_id")
    eps = 1e-9
    slack_self = eps + 5e-7 * F.col("nterms")
    pre = (
        w.withColumn(
            "sufnorm", F.sqrt(F.sum(F.col("w") * F.col("w")).over(sufw))
        )
        # suffix norm AFTER this term — the PPJoin positional bound's
        # residual (Xiao et al. WWW'08 §3.2 adapted to unit vectors)
        .withColumn(
            "sufnext",
            F.sqrt(
                F.coalesce(
                    F.sum(F.col("w") * F.col("w")).over(sufw_next),
                    F.lit(0.0),
                )
            ),
        )
        # per-doc stats for the Bayardo size filter (WWW'07 §3.1):
        # dot(x, y) <= min(maxw_x * l1_y, maxw_y * l1_x)
        .withColumn("maxw", F.max("w").over(docw))
        .withColumn(
            "l1",
            F.sum(F.col("w").cast("decimal(18,6)"))
            .over(docw)
            .cast("double"),
        )
        .withColumn("nterms", F.count(F.lit(1)).over(docw))
        .where(F.col("sufnorm") >= threshold - slack_self)
        .select(
            "doc_id", "term", "w", "sufnext", "maxw", "l1", "nterms"
        )
    )
    # the prefix frame feeds BOTH sides of the candidate self-join;
    # persisted, its three window passes run once instead of twice
    return scoped_persist(pre)


def tfidf_allpairs_candidates(
    w: DataFrame,
    threshold: float = 0.8,
    pre: DataFrame | None = None,
) -> DataFrame:
    """The EXACT candidate stage of q99: prefix-to-prefix term
    equi-join with the Bayardo size filter and PPJoin positional bound
    (lossless under the round6 slack — every pair at or above the
    threshold survives). Exposed separately so the density probe
    (tools/tfidf_density_probe.py) and the banded rung's recall
    baseline measure the same code the operator runs. ``pre`` lets a
    caller that already built (and persisted) the prefix frame for the
    same (w, threshold) reuse it instead of re-running its window
    passes."""
    if pre is None:
        pre = _tfidf_prefix_frame(w, threshold)
    eps = 1e-9
    # per-pair slack: shared terms <= min(nterms_a, nterms_b)
    slack = eps + 5e-7 * F.least(F.col("a.nterms"), F.col("b.nterms"))
    cand = (
        pre.alias("a")
        .join(pre.alias("b"), "term")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # positional bound at the first shared term: this term's
            # product plus Cauchy-Schwarz over both residuals —
            # strictly tighter than sufnorm_a * sufnorm_b
            & (
                F.col("a.w") * F.col("b.w")
                + F.col("a.sufnext") * F.col("b.sufnext")
                >= threshold - slack
            )
            # size filter, both directions
            & (F.col("a.maxw") * F.col("b.l1") >= threshold - slack)
            & (F.col("b.maxw") * F.col("a.l1") >= threshold - slack)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return cand


def _knn_from_verified(dots: DataFrame, max_neighbors: int) -> DataFrame:
    """Shared kNN-graph tail over verified-and-thresholded (doc_a,
    doc_b, dot) pairs: symmetrize (each unordered pair was scored
    once), rank per doc, cut at ``max_neighbors``. One definition so
    the exact (q99) and banded-approximate (q110) paths cannot drift
    in their output contract. Callers persist ``dots`` first so the
    union's two branches read the verification once."""
    from pyspark.sql import Window

    sym = dots.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "dot",
    ).unionAll(
        dots.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "dot",
        )
    )
    rankw = Window.partitionBy("doc_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("nn_rank", F.row_number().over(rankw))
        .where(F.col("nn_rank") <= max_neighbors)
        .select(
            "doc_id",
            "neighbor_id",
            round6(F.col("dot").cast("double")).alias("cosine"),
            "nn_rank",
        )
    )


def q99_tfidf_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_cosine_knn(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q110: the APPROXIMATE candidate rung for sparse TF-IDF near-dup —
# the recall-dialed screen the exact AllPairs path (q99) lacks. Every
# other candidate-generator family in this library has a banded
# approximate form (shingles -> banded minhash q40/q62, dense
# embeddings -> SRP banding); sparse TF-IDF's only path was exact,
# which on dense corpora costs whatever the true-pair density costs
# (q99 ~40 s at sf0.1 vs ~1 s for everything else — SCALING.md). This
# rung minhashes each doc's TOP-WEIGHT terms (the terms that carry the
# cosine mass) and bands the signatures, so candidate volume is a
# (bands, rows_per_band, top_terms) dial instead of a corpus property;
# verification stays the SAME exact DECIMAL dot as q99, so emitted
# pairs are never wrong — banding only bounds RECALL, measured against
# q99's exact output in SCALING.md. Fully deterministic (md5-seeded
# minhash, rank-tie on term), so the whole pipeline — including the
# banding stages — replays in ANSI SQL for the correctness gate.
TFIDF_BAND_BANDS = 8
TFIDF_BAND_ROWS = 2
TFIDF_BAND_TOP_TERMS = 16


def band_collision_prob(
    jaccard: float, bands: int, rows_per_band: int
) -> float:
    """The banded-minhash collision model: probability that a pair
    whose top-term sets have Jaccard ``jaccard`` collides in at least
    one of ``bands`` bands of ``rows_per_band`` independent minhashes —
    p = 1 - (1 - J^rows)^bands (the standard LSH S-curve; Leskovec et
    al., Mining of Massive Datasets ch. 3).

    >>> round(band_collision_prob(0.7, 8, 2), 3)
    0.995
    """
    return 1.0 - (1.0 - jaccard**rows_per_band) ** bands


def effective_jaccard(
    bands: int, rows_per_band: int, measured_recall: float
) -> float:
    """Invert the collision model at ONE measured operating point:
    the top-term Jaccard J for which :func:`band_collision_prob`\\(J,
    bands, rows_per_band) equals ``measured_recall`` — i.e. the
    corpus's EFFECTIVE threshold-pair Jaccard. This is how the dial
    becomes corpus-calibrated: measure recall once at any dial on a
    sample (banded output vs the exact rung), invert here, then feed
    the result to :func:`choose_band_dial` as ``jaccard``. One point
    calibrates the whole table: the r9 sf0.01 template measurements
    (SCALING.md "q110 operating points") fit a single J_eff = 0.4595
    — (8,2)→0.850 exact by construction, predicting (16,2)→0.977 vs
    0.963 measured and (8,3)→0.558 vs 0.605 measured.

    >>> round(effective_jaccard(8, 2, 0.85), 4)
    0.4595
    """
    if bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"bands and rows_per_band must be >= 1, got "
            f"({bands}, {rows_per_band})"
        )
    if not 0.0 < measured_recall < 1.0:
        raise ValueError(
            f"measured_recall must be in (0, 1), got {measured_recall}"
        )
    return (
        1.0 - (1.0 - measured_recall) ** (1.0 / bands)
    ) ** (1.0 / rows_per_band)


def min_bands_for_target(p: float, target_recall: float) -> int | None:
    """Minimal band count b with 1-(1-p)^b >= target_recall for a
    per-band collision probability ``p``, or None when p underflows so
    far that no finite count reaches the target — either log1p(-p)
    rounds to 0, or the quotient itself overflows to inf for a
    subnormal p (denom > 0 but astronomically small). This is the
    ONE band-count numeric shared by the minhash and SRP dial
    choosers (a precision fix here must not be re-derived per
    family).

    >>> min_bands_for_target(0.2111, 0.95)
    13
    """
    import math

    if p >= 1.0:
        return 1
    denom = -math.log1p(-p)
    if denom <= 0.0:
        return None
    q = -math.log(1.0 - target_recall) / denom
    if not math.isfinite(q):
        return None
    return math.ceil(q)


def choose_band_dial(
    threshold: float | None = None,
    target_recall: float = 0.95,
    jaccard: float | None = None,
    max_seeds: int = 64,
    max_rows: int = 8,
) -> tuple[int, int]:
    """(bands, rows_per_band) for the banded TF-IDF rungs meeting a
    recall target under the collision model — the usable form of the
    dial: a caller wanting "recall >= 0.95 on my corpus" no longer
    reads the SCALING.md operating-point table and re-derives LSH
    theory.

    Model contract (the thing this helper guarantees): a pair whose
    TOP-TERM Jaccard is >= ``jaccard`` collides with probability >=
    ``target_recall`` under :func:`band_collision_prob`. The accurate
    way in is a corpus-CALIBRATED ``jaccard``: measure recall once at
    any dial on a sample and invert via :func:`effective_jaccard` (the
    q112 pattern). When only ``threshold`` (cosine) is given, the
    Jaccard floor falls back to the equal-size binary-set identity
    J = t / (2 - t) (cos c over two n-term binary vectors has
    |A∩B| = c*n, so J = c/(2-c)) — a HEURISTIC for weighted top-term
    sets that real dense corpora undershoot (template sf0.01 measures
    J_eff 0.46 vs the floor's 0.67), so treat model recall at the
    assumed J as the contract and calibrate when the target matters.

    Policy: maximize ``rows_per_band`` (bucket selectivity — fewer
    chance collisions per bucket, the dial that controls candidate
    noise) subject to the signing budget ``bands * rows_per_band <=
    max_seeds``, with ``bands`` minimal for the target at that row
    count. Raises if no dial fits the budget (raise ``max_seeds`` or
    lower the target).

    >>> choose_band_dial(jaccard=0.4595, target_recall=0.95)
    (13, 2)
    """
    import math

    if jaccard is None:
        if threshold is None:
            raise ValueError("pass threshold or jaccard")
        if not 0.0 < threshold <= 1.0:
            raise ValueError(f"threshold must be in (0, 1], got {threshold}")
        jaccard = threshold / (2.0 - threshold)
    if not 0.0 < jaccard <= 1.0:
        raise ValueError(f"jaccard must be in (0, 1], got {jaccard}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    for rows in range(max_rows, 0, -1):
        # None: p underflowed — no finite band count reaches the
        # target at this row count; try fewer rows (see
        # min_bands_for_target for the log1p precision note)
        bands = min_bands_for_target(jaccard**rows, target_recall)
        if bands is not None and bands * rows <= max_seeds:
            return bands, rows
    raise ValueError(
        f"no (bands, rows_per_band) meets recall {target_recall} at "
        f"jaccard {jaccard:.4f} within {max_seeds} seeds — raise "
        "max_seeds or lower target_recall"
    )


def screen_rebuild_verdict(
    report,
    idf_drift_mad_threshold: float = 0.10,
    new_term_mass_threshold: float = 0.05,
    top_term_churn_threshold: float = 0.3,
) -> "RebuildVerdict":
    """Apply the MEASURED frozen-idf rebuild rule (SCALING.md "Index
    staleness", r11) to a collected :meth:`TfidfScreenIndex.staleness`
    row. Measurement: true duplicates are never lost at ANY drift
    level (exact copies keep cosine ~1 under any unit weighting —
    recall 1.0 and |cosine error| <= 3e-6 even at idf_drift_mad 1.61),
    so the failure mode is near-threshold VERDICT FIDELITY: at
    new_term_mass 0.80 the stale screen's flat OOV idf over-flags
    80-98% of near-threshold shifted pairs a fresh index rejects,
    while same-distribution 5x growth (idf_drift_mad ~0.01) changes
    zero verdicts. Trigger on any of idf_drift_mad, new_term_mass,
    top_term_churn; growth_ratio alone is NOT a trigger.

    >>> screen_rebuild_verdict({"idf_drift_mad": 0.012,
    ...     "new_term_mass": 0.0, "top_term_churn": 0.0}).rebuild
    False
    """
    from .similarity import RebuildVerdict, _report_dict

    cur = _report_dict(report)
    reasons = []

    def _over(key, threshold):
        # NULL metrics (degenerate/empty-corpus reports) are absent
        # evidence, not triggers — the ivf/srp verdicts' rule
        v = cur.get(key)
        return v is not None and v > threshold

    if _over("idf_drift_mad", idf_drift_mad_threshold):
        reasons.append(
            f"idf_drift_mad {cur['idf_drift_mad']} > "
            f"{idf_drift_mad_threshold} (per-term-occurrence idf error "
            "a rebuild would correct)"
        )
    if _over("new_term_mass", new_term_mass_threshold):
        reasons.append(
            f"new_term_mass {cur['new_term_mass']} > "
            f"{new_term_mass_threshold} (OOV mass weighted with the "
            "flat fallback idf distorts near-threshold verdicts)"
        )
    if _over("top_term_churn", top_term_churn_threshold):
        reasons.append(
            f"top_term_churn {cur['top_term_churn']} > "
            f"{top_term_churn_threshold} (the signature prefix reads "
            "a moved vocabulary head)"
        )
    return RebuildVerdict(bool(reasons), tuple(reasons))


def band_dial_measurement(
    docs: DataFrame,
    threshold: float = 0.8,
    probe_bands: int = TFIDF_BAND_BANDS,
    probe_rows: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
    max_neighbors: int = 10,
) -> DataFrame:
    """The MEASUREMENT stage of the dial-calibration loop as one
    declarative plan — a single row (n_true_edges, n_banded_hits,
    measured_recall):

    - true edges: the exact rung's user-visible kNN edge set (AllPairs
      candidates -> exact DECIMAL dot >= ``threshold`` ->
      top-``max_neighbors`` per doc — the code q99 runs), taken as
      unordered distinct pairs;
    - banded hits: the probe dial's :func:`tfidf_banded_candidates`
      pairs semi-joined against the true edges;
    - measured_recall: round6(hits / edges) — the operating point
      :func:`effective_jaccard` inverts.

    Every stage is the deterministic cross-engine definition the
    graded rungs already replay in SQL, so the measurement itself is
    DuckDB-gradable (q117) — the calibration HARNESS is spec, not
    just the rungs it tunes. Scale shape: the two inputs reuse one
    persisted weight frame; the output is one row (two counts), so
    nothing pair-shaped ever reaches the driver."""
    from ._scope import scoped_persist

    w, _stats, _n = tfidf_weight_frame(docs)  # w arrives persisted
    dots = scoped_persist(
        _verified_dots(
            tfidf_allpairs_candidates(w, threshold), w, w,
            "doc_a", "doc_b", "map",
        )
        .where(F.col("dot").cast("double") >= threshold)
    )
    # unordered edges of the kNN OUTPUT (an edge survives if either
    # endpoint ranks it) — the quantity the dial's recall target is
    # about, since the banded rung feeds the same kNN tail
    true_edges = scoped_persist(
        _knn_from_verified(dots, max_neighbors)
        .select(
            F.least("doc_id", "neighbor_id").alias("doc_a"),
            F.greatest("doc_id", "neighbor_id").alias("doc_b"),
        )
        .distinct()
    )
    hits = true_edges.join(
        tfidf_banded_candidates(w, probe_bands, probe_rows, top_terms),
        ["doc_a", "doc_b"],
        "left_semi",
    )
    return (
        true_edges.agg(F.count(F.lit(1)).alias("n_true_edges"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_banded_hits")))
        .select(
            "n_true_edges",
            "n_banded_hits",
            round6(
                F.col("n_banded_hits")
                / F.nullif(F.col("n_true_edges"), F.lit(0)).cast("double")
            ).alias("measured_recall"),
        )
    )


class BandDialCalibration(NamedTuple):
    """Result of :func:`calibrate_band_dial` — the chosen dial plus
    every intermediate the chooser consumed, so the calibration is
    auditable (SCALING.md records these fields verbatim)."""

    bands: int
    rows_per_band: int
    measured_recall: float
    recall_used: float
    effective_jaccard: float
    n_true_edges: int
    n_banded_hits: int
    n_docs: int


def calibrate_band_dial(
    docs: DataFrame,
    threshold: float = 0.8,
    target_recall: float = 0.95,
    sample_frac: float | None = None,
    probe_bands: int = TFIDF_BAND_BANDS,
    probe_rows: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
    max_neighbors: int = 10,
    max_seeds: int = 64,
    max_rows: int = 8,
    min_true_edges: int = 10,
) -> BandDialCalibration:
    """ONE-CALL corpus calibration of the banded TF-IDF dial: run the
    banded-vs-exact recall measurement on (a sample of) ``docs``,
    invert the S-curve at the measured point
    (:func:`effective_jaccard`), and pick the cheapest dial meeting
    ``target_recall`` (:func:`choose_band_dial`). This closes the loop
    the three pure functions left manual: the q112 dial (13, 2) came
    from exactly this sequence run by hand at sf0.01 (SCALING.md
    "Round-10: the dial becomes usable"); now
    ``calibrate_band_dial(docs, 0.8, 0.95)`` reproduces it from the
    raw corpus.

    Measurement: true edges are the exact rung's USER-VISIBLE output
    — q99's kNN edge set (AllPairs candidates -> exact DECIMAL dot >=
    threshold -> top-``max_neighbors`` per doc, the same code q99
    runs; the SCALING.md operating-point convention) — and banded
    hits are the probe dial's :func:`tfidf_banded_candidates` pairs
    intersected with them via one semi-join. Counts only ever cross
    the driver, never pair lists. ``sample_frac`` subsets docs
    DETERMINISTICALLY (md5 of doc_id, no RNG state) so a calibration
    is reproducible; the exact rung on the sample is quadratic only
    in true-pair density, the same cost envelope as q99 at that
    sample size — at 100 TB calibrate on a sample (e.g. 0.01), never
    the corpus.

    Edge handling: zero true edges or zero banded hits cannot be
    inverted (raise, with the fix in the message), and fewer than
    ``min_true_edges`` true pairs raise too — a dial extrapolated
    from one or two pairs is noise, not a calibration (the censoring
    correction alone drives recall_used to 0.5 at n_true=1); grow the
    sample, or pass a smaller ``min_true_edges`` to accept the
    variance knowingly. A probe measuring
    PERFECT recall only lower-bounds J_eff, so it is continuity-
    corrected to (2n-1)/(2n) before inversion — the returned dial is
    then an extrapolation from a censored measurement (recall_used <
    measured_recall flags this in the result); re-probe with fewer
    bands when the target matters."""
    from ._scope import scoped_persist
    from .dedup import hash60

    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(
                f"sample_frac must be in (0, 1], got {sample_frac}"
            )
        if sample_frac < 1.0:
            docs = docs.where(
                F.pmod(
                    hash60(F.col("doc_id").cast("string")),
                    F.lit(1_000_000),
                )
                < F.lit(int(round(sample_frac * 1_000_000)))
            )
    n_docs = docs.count()
    row = band_dial_measurement(
        docs, threshold, probe_bands, probe_rows, top_terms,
        max_neighbors,
    ).collect()[0]
    n_true, n_hit = row["n_true_edges"], row["n_banded_hits"]
    if n_true == 0:
        raise ValueError(
            f"no pairs at cosine >= {threshold} in the "
            f"{n_docs}-doc sample — raise sample_frac or lower "
            "threshold"
        )
    # a dial inverted from a handful of pairs is statistically
    # meaningless (the censoring correction alone moves recall_used
    # to 0.5 at n_true=1) — refuse rather than return it
    if n_true < min_true_edges:
        raise ValueError(
            f"only {n_true} true pair(s) at cosine >= {threshold} in "
            f"the {n_docs}-doc sample — too few to calibrate a dial "
            f"from (min_true_edges={min_true_edges}); raise "
            "sample_frac / lower threshold, or pass a smaller "
            "min_true_edges to accept the noise deliberately"
        )
    if n_hit == 0:
        raise ValueError(
            f"probe dial ({probe_bands}, {probe_rows}) caught none of "
            f"the {n_true} true pairs — recall 0 cannot be inverted; "
            "probe with more bands or fewer rows_per_band"
        )
    measured = n_hit / n_true
    recall_used = min(measured, (2 * n_true - 1) / (2 * n_true))
    j_eff = effective_jaccard(probe_bands, probe_rows, recall_used)
    bands, rows = choose_band_dial(
        target_recall=target_recall,
        jaccard=j_eff,
        max_seeds=max_seeds,
        max_rows=max_rows,
    )
    return BandDialCalibration(
        bands=bands,
        rows_per_band=rows,
        measured_recall=round(measured, 6),
        recall_used=round(recall_used, 6),
        effective_jaccard=round(j_eff, 6),
        n_true_edges=n_true,
        n_banded_hits=n_hit,
        n_docs=n_docs,
    )


def _banded_signatures(
    w: DataFrame,
    bands: int = TFIDF_BAND_BANDS,
    rows_per_band: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
) -> DataFrame:
    """(doc_id, band, sig): each doc's banded minhash signatures over
    its ``top_terms`` highest-weight terms (rank ties on term). Shared
    by the self-join rung (q110) and the two-sided screen rung (q111)
    so one signature definition feeds every banded candidate join —
    two frames signed with the SAME (bands, rows, top_terms) collide
    iff their band rows agree, regardless of which operator joins
    them."""
    from pyspark.sql import Window

    from .dedup import hash60

    n_seeds = bands * rows_per_band
    topw = Window.partitionBy("doc_id").orderBy(
        F.col("w").desc(), F.col("term").asc()
    )
    top = (
        w.withColumn("_rk", F.row_number().over(topw))
        .where(F.col("_rk") <= top_terms)
        .select("doc_id", "term")
    )
    minh = (
        top.select(
            "doc_id",
            F.explode(
                F.array(*[F.lit(i) for i in range(n_seeds)])
            ).alias("seed"),
            "term",
        )
        .select(
            "doc_id",
            "seed",
            hash60(
                F.concat_ws(
                    ":", F.col("seed").cast("string"), F.col("term")
                )
            ).alias("hh"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("hh").alias("mh"))
    )
    return (
        minh.withColumn(
            "band",
            F.floor(F.col("seed") / rows_per_band).cast("int"),
        )
        .groupBy("doc_id", "band")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(seed, mh))), x -> cast(x.mh as string)), '|')"
            ).alias("sig")
        )
    )


def tfidf_banded_candidates(
    w: DataFrame,
    bands: int = TFIDF_BAND_BANDS,
    rows_per_band: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from banded minhash signatures
    over each doc's ``top_terms`` highest-weight terms (weight frame
    ``w`` = (doc_id, term, df, w), rank ties broken on term so the
    prefix is deterministic cross-engine).

    LSH shape: ``bands * rows_per_band`` independent min-hashes (seed
    s hashes term as hash60('s:term')); docs collide when ALL
    ``rows_per_band`` minima of some band agree — a pair with top-term
    Jaccard J survives with p = 1-(1-J^rows)^bands (rows=2, bands=8:
    J=0.7 -> 0.995, J=0.3 -> 0.53), so bands dials recall and rows
    dials bucket selectivity. Cost is linear: top_terms x seeds rows
    per doc, one keyed min-agg, one equi-join on (band, signature) —
    no all-pairs stage at any density (plan-tested).

    ``max_bucket`` is the LSH skew guard for degenerate corpora (the
    dedup family's df-cap analogue): a (band, signature) bucket
    holding b docs contributes b^2/2 candidate pairs, so ONE bucket of
    boilerplate-identical top terms can dominate the join at scale.
    When set, buckets larger than ``max_bucket`` are dropped via a
    left-anti join BEFORE the candidate self-join, bounding any
    bucket's contribution at max_bucket^2/2 pairs. Off by default (the
    graded q110 spec is unguarded): dropping a bucket only LOWERS
    recall — pairs in other shared buckets still collide — and the
    guarded path is equivalence-bounded by test."""
    # persist BEFORE any join: the signature frame feeds BOTH sides of
    # the candidate self-join (and, guarded, the oversized aggregate
    # too) — unpersisted, the top-terms window + seed explode + two
    # aggregations execute once per reference (verified: the unguarded
    # plan showed zero ReusedExchange before this persist)
    sigs = scoped_persist(
        _banded_signatures(w, bands, rows_per_band, top_terms)
    )
    if max_bucket is not None:
        oversized = scoped_persist(
            sigs.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band", "sig")
        )
        sigs = sigs.join(oversized, ["band", "sig"], "left_anti")
    return (
        sigs.select(F.col("doc_id").alias("doc_a"), "band", "sig")
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), "band", "sig"),
            ["band", "sig"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def tfidf_banded_knn(
    docs: DataFrame,
    threshold: float = 0.8,
    max_neighbors: int = 10,
    bands: int = TFIDF_BAND_BANDS,
    rows_per_band: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
    verify_shape: str = "map",
    max_bucket: int | None = None,
) -> DataFrame:
    """q99's output contract (doc_id, neighbor_id, cosine, nn_rank)
    with the exact AllPairs candidate stage swapped for the banded
    minhash screen (:func:`tfidf_banded_candidates`) — candidates are
    a recall dial, verification is the identical exact DECIMAL dot +
    threshold + shared kNN tail, so every emitted edge is exact; only
    edges whose pair evaded all bands can be missing (recall measured
    vs q99 in SCALING.md). ``verify_shape`` defaults to ``'map'``
    (fully lazy) rather than ``'auto'``; see :func:`_verified_dots`."""
    w, _stats, _n = tfidf_weight_frame(docs)  # w arrives persisted
    cand = tfidf_banded_candidates(
        w, bands, rows_per_band, top_terms, max_bucket
    )
    dots = scoped_persist(
        _verified_dots(cand, w, w, "doc_a", "doc_b", verify_shape).where(
            F.col("dot").cast("double") >= threshold
        )
    )
    return _knn_from_verified(dots, max_neighbors)


def q110_tfidf_banded_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_banded_knn(load_table(spark, sf_dir, "documents"))


def tfidf_screen_join(
    incoming: DataFrame,
    reference: DataFrame,
    threshold: float = 0.8,
    verify_shape: str = "auto",
) -> DataFrame:
    """Fully JOIN-BASED TF-IDF reference screen — the distributed twin
    of the streaming ``tfidf_dup_gate`` for reference corpora that
    outgrow any broadcast (the gate's broadcast index is bounded at 5M
    weights; its sharded build is bounded per shard — this path has NO
    driver-side state at all: reference weights stay a DataFrame, the
    prefix probe is a term equi-join, verification is a keyed join).

    Semantics are the gate's, bit-for-bit (equivalence-tested): each
    incoming doc is weighted under the FROZEN reference idf (OOV terms
    take the df=0 idf), candidates come from the same rarity-first
    prefix rule on both sides (with the rounding-model slack), the
    exact DECIMAL dot runs over candidate pairs' shared terms only,
    and every incoming doc emits one row: (doc_id, match_id,
    match_cosine, tfidf_dup) — the best QUALIFYING match (>= the
    threshold; for such pairs the prefix bound is lossless, so this
    equals the best over ALL references), ties to the lowest
    reference id, self-ids excluded; unflagged docs (no qualifying
    match, zero norm, no candidates) carry NULL match columns —
    the gate's exact contract.

    NOTE: the default ``verify_shape='auto'`` runs one small EAGER
    aggregate per side at construction time to pick the verify plan
    shape (see :func:`_verified_dots`); pass ``'map'``, ``'keyed'``
    or ``'map_fold'`` explicitly for fully lazy composition.
    """
    w_in, w_ref = _screen_weight_frames(incoming, reference)
    return _screen_verify(incoming, w_in, w_ref, threshold, verify_shape)


def _screen_weight_frames(
    incoming: DataFrame, reference: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(w_in, w_ref) under the gate's frozen-reference-idf convention
    — the weight-building stage of the screen family, shared by the
    exact (q102) and banded (q111) candidate rungs. Returns the SAME
    frame twice for a self-screen (``incoming is reference``), which
    downstream stages detect by identity to verify each unordered pair
    once."""
    w_ref, stats, n = tfidf_weight_frame(reference)
    if incoming is reference:
        # self-screen fast path (q102's shape): every incoming term is
        # by definition in the reference, so weighting incoming under
        # the reference idf reproduces the reference weight frame
        # EXACTLY (same tf, same df, same idf, same norm — bit
        # identical, equivalence-tested). Skip the second tokenize/
        # join/normalize pipeline entirely; _verified_dots then also
        # builds ONE weight-map frame instead of two.
        return w_ref, w_ref
    return _weight_incoming_under(incoming, stats, n), w_ref


def _weight_incoming_under(
    incoming: DataFrame, stats: DataFrame, n: DataFrame
) -> DataFrame:
    """Weight ``incoming`` docs under a FROZEN reference idf given
    only its statistics — ``stats`` (term, df) and ``n`` (1-row
    n_docs): OOV terms take the df=0 idf (the gate's oov_idf, same
    engine ln). Shared by the ephemeral screens and the persisted
    :class:`TfidfScreenIndex`, whose whole point is that these
    statistics are all the reference state an incoming batch needs."""
    in_terms = (
        incoming.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = round6(
        F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
    )
    oov_idf = round6(F.log((F.col("n_docs") + 1).cast("double")))
    w0 = scoped_persist(
        in_terms.join(stats, "term", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.coalesce("df", F.lit(0)).alias("df"),
            (
                F.col("tf")
                * F.when(F.col("df").isNull(), oov_idf).otherwise(idf)
            ).alias("w_raw"),
        )
    )
    norms = w0.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(
                round6(F.col("w_raw") * F.col("w_raw")).cast("decimal(18,6)")
            ).cast("double")
        ).alias("nrm")
    )
    w_in = scoped_persist(
        w0.join(norms, "doc_id")
        .where(F.col("nrm") > 0)
        .select(
            "doc_id",
            "term",
            "df",
            round6(F.col("w_raw") / F.col("nrm")).alias("w"),
        )
    )
    return w_in


class TfidfScreenIndex:
    """Persisted form of the banded TF-IDF reference screen — the
    SRPIndex/IVFIndex pattern applied to the screen family: the
    reference corpus's frozen idf statistics (term df + corpus count),
    unit weight frame, and banded minhash signatures are computed ONCE
    (``build``) and written as parquet (``save``), so every incoming
    batch afterwards screens against a 100 TB reference without
    re-tokenizing, re-weighting, or re-signing it. ``screen`` output
    is bit-equal to the ephemeral
    ``tfidf_banded_screen(incoming, reference)`` general path, and the
    loaded index is bit-equal to the built one (both tested: round6
    doubles, longs and signature strings round-trip parquet exactly).
    The signature table is partitioned by band (bounded at ``bands``
    directories); every band is probed by design, so the win is
    compute-once reuse, not partition pruning. A growing reference
    corpus appends incrementally via :meth:`add` — new docs are signed
    under the frozen stats and appended to the parquet, never forcing
    a rebuild (the reference store itself is put-anytime incremental:
    /root/reference/src/aerovaldb/jsondb/jsonfiledb.py:386-413 — the
    index layer matches)."""

    # datasets add(path=...) appends to, in append ORDER — the
    # streaming ingest protocol (streaming.index_ingest_fn) snapshots
    # these before each batch so a torn/replayed append rolls back
    APPEND_DATASETS = ("weights", "signatures")

    def __init__(
        self,
        stats: DataFrame,
        n: DataFrame,
        weights: DataFrame,
        signatures: DataFrame,
        bands: int,
        rows_per_band: int,
        top_terms: int,
    ) -> None:
        self.stats = stats
        self.n = n
        self.weights = weights
        self.signatures = signatures
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.top_terms = top_terms
        # (stats_rows, stats_fp, n_docs) fingerprint of the frozen idf
        # statistics — set by save()/load(), lazily computed for
        # never-saved handles; the add(path=...) guard against a
        # rebuild having swapped in fresh stats
        self._frozen_fp: tuple | None = None

    @staticmethod
    def build(
        reference: DataFrame,
        bands: int = TFIDF_BAND_BANDS,
        rows_per_band: int = TFIDF_BAND_ROWS,
        top_terms: int = TFIDF_BAND_TOP_TERMS,
    ) -> "TfidfScreenIndex":
        w_ref, stats, n = tfidf_weight_frame(reference)
        sigs = _banded_signatures(w_ref, bands, rows_per_band, top_terms)
        return TfidfScreenIndex(
            stats, n, w_ref, sigs, bands, rows_per_band, top_terms
        )

    def save(self, path: str) -> None:
        import os as _os

        from ._staging import clear_stale

        spark = self.weights.sparkSession
        # stale .old/.staging from an interrupted compaction must not
        # outlive a re-save (a crashed re-save would otherwise leave
        # loaders silently serving the PRE-rebuild state)
        clear_stale(_os.path.join(path, "weights"))
        clear_stale(_os.path.join(path, "signatures"))
        self.stats.write.mode("overwrite").parquet(
            _os.path.join(path, "stats")
        )
        self.n.write.mode("overwrite").parquet(_os.path.join(path, "n"))
        self.weights.write.mode("overwrite").parquet(
            _os.path.join(path, "weights")
        )
        (
            self.signatures.write.mode("overwrite")
            .partitionBy("band")
            .parquet(_os.path.join(path, "signatures"))
        )
        self._frozen_fp = self._stats_fingerprint()
        rows, fp, n_docs = self._frozen_fp
        # the hash sum is an arbitrary-width integer (decimal(38,0)
        # aggregate) — stored as a string so it round-trips exactly
        spark.createDataFrame(
            [
                (self.bands, self.rows_per_band, self.top_terms,
                 rows, str(fp), n_docs, "TfidfScreenIndex")
            ],
            "bands int, rows_per_band int, top_terms int, "
            "stats_rows long, stats_fp string, n_docs long, "
            "family string",
        ).write.mode("overwrite").parquet(_os.path.join(path, "meta"))

    def _stats_fingerprint(self) -> tuple:
        """(stats rows, stats xxhash64-sum, n_docs) of the frozen idf
        statistics — persisted in meta so ``add(path=...)`` can detect
        a rebuild-swapped layout with a one-row read."""
        from ._staging import frame_fingerprint

        rows, fp = frame_fingerprint(self.stats)
        return rows, fp, int(self.n.collect()[0]["n_docs"])

    @staticmethod
    def load(spark: SparkSession, path: str) -> "TfidfScreenIndex":
        import os as _os

        from ._staging import resolve_live

        from ._staging import read_meta_row, require_meta_family

        path = resolve_live(path)  # rebuild_root swap-window fallback
        meta = read_meta_row(spark, path)
        if meta is None:
            raise ValueError(
                f"no meta dataset under {path!r} — not a saved "
                "screen-index layout"
            )
        require_meta_family(meta.asDict(), "TfidfScreenIndex", path)
        # explicit schemas: a reference whose every doc is zero-norm
        # (e.g. all-whitespace) produces EMPTY frames, and an empty
        # partitionBy write leaves no part files to infer a schema
        # from — inference would throw UNABLE_TO_INFER_SCHEMA on a
        # perfectly valid (if degenerate) index (hypothesis-found).
        # resolve_live: fall back to the .old state a crash inside
        # compact()'s rename window leaves (see _staging); the ROOT
        # resolve above it covers maybe_rebuild's swap window
        idx = TfidfScreenIndex(
            spark.read.schema("term string, df bigint").parquet(
                _os.path.join(path, "stats")
            ),
            spark.read.schema("n_docs bigint").parquet(
                _os.path.join(path, "n")
            ),
            spark.read.schema(
                "doc_id bigint, term string, df bigint, w double"
            ).parquet(resolve_live(_os.path.join(path, "weights"))),
            spark.read.schema("doc_id bigint, band int, sig string")
            .parquet(resolve_live(_os.path.join(path, "signatures")))
            .select("doc_id", "band", "sig"),
            int(meta["bands"]),
            int(meta["rows_per_band"]),
            int(meta["top_terms"]),
        )
        md = meta.asDict()
        if md.get("stats_fp") is not None:
            idx._frozen_fp = (
                int(md["stats_rows"]),
                int(md["stats_fp"]),
                int(md["n_docs"]),
            )
        return idx

    def add(
        self, docs: DataFrame, path: str | None = None
    ) -> "TfidfScreenIndex":
        """Incremental append: weight and sign ``docs`` under the
        index's FROZEN idf statistics and add them to the reference —
        the growing-corpus production event (yesterday's index +
        today's docs) WITHOUT re-tokenizing, re-weighting, or
        re-signing the existing reference. Exact under the index's own
        frozen-reference contract: appended docs get exactly the
        weights/signatures ``screen`` would compute for them as
        incoming docs (shared code — ``_weight_incoming_under`` +
        ``_banded_signatures``), so an in-memory append, a parquet
        append, and a one-shot build over the union under the same
        frozen stats all screen bit-equally (tested).

        With ``path`` (the directory this index was saved to/loaded
        from), the NEW rows are appended to the ``weights`` and
        band-partitioned ``signatures`` parquet — the existing files
        are never rewritten — and the returned index reads from disk;
        without it the append is in-memory (union). Each parquet
        append is one atomic Spark write job; re-running a failed
        ``add`` with the same docs would duplicate their rows, so
        treat add batches as idempotence units. Weights write before
        signatures deliberately: a crash between the two leaves docs
        with weights but no signatures, which can never become
        candidates — the batch is simply missing, not half-screened,
        PROVIDED the batch is not retried as-is. Under a replaying
        caller the naive retry would re-append the weights — orphaned
        first-attempt rows become duplicates PAIRED with signatures,
        corrupting every downstream dot — which is why the streaming
        ingest (``streaming.index_ingest_fn``) wraps every ``add`` in
        the append-intent protocol (``_staging.write_append_intent``
        / ``recover_append_intent`` over :attr:`APPEND_DATASETS`): a
        redelivered batch first rolls both datasets back to the
        pre-attempt file listing bit-for-bit, then re-appends
        (crash-injection tested across both the weights→signatures
        and the add→marker windows). A bare ``add`` retried OUTSIDE
        that protocol must still remove the partial batch first, or
        rebuild.
        Use the RETURNED index to see the appended rows: a previously
        constructed instance snapshotted its parquet file listing at
        load time and will not pick them up.

        STALENESS: ``stats``/``n`` stay frozen at build time — by
        design (it is what makes appends exact and incoming batches
        reference-state-free) — so df counts do not reflect appended
        docs, and a fresh ``build`` over the grown corpus would assign
        slightly different idf weights as term frequencies drift.
        Rebuild when the corpus has grown enough that drift matters
        (a few percent of corpus size is harmless; an order of
        magnitude is not). Appended doc_ids must not collide with
        existing reference ids: a duplicated id with different text
        would merge two docs' weight rows into one corrupt vector."""
        if path is not None:
            # EVERY refusal must run before the weight frames are even
            # constructed: _weight_incoming_under scoped_persist's its
            # intermediates, and a persisted-then-abandoned plan over
            # the handle's stale stats would be substituted by the
            # CacheManager into a FRESH handle's logically-equal plan
            # (canonical equality is by path), resurrecting the
            # pre-rebuild file listing (found by this round's guard
            # tests — the stale-cache trap, again)
            self._check_append_target(path)
        w_new = _weight_incoming_under(docs, self.stats, self.n)
        sig_new = _banded_signatures(
            w_new, self.bands, self.rows_per_band, self.top_terms
        )
        if path is None:
            out = TfidfScreenIndex(
                self.stats,
                self.n,
                self.weights.unionByName(w_new),
                self.signatures.unionByName(sig_new),
                self.bands,
                self.rows_per_band,
                self.top_terms,
            )
            out._frozen_fp = self._frozen_fp
            return out
        import os as _os

        w_new.write.mode("append").parquet(_os.path.join(path, "weights"))
        (
            sig_new.write.mode("append")
            .partitionBy("band")
            .parquet(_os.path.join(path, "signatures"))
        )
        return TfidfScreenIndex.load(self.weights.sparkSession, path)

    def _check_append_target(self, path: str) -> None:
        """Every reason to REFUSE an ``add(path=...)``, checked before
        the append plans exist (see add's in-body note on why the
        order matters): complete saved layout, matching frozen
        parameters (one-row meta read — the guard against a handle
        that outlived a maybe_rebuild/maintain swap; appending rows
        weighted under the old idf stats would corrupt every
        downstream screen dot), and both append datasets out of the
        compact crash window (a refused second append must not leave
        the first half applied)."""
        import os as _os

        from ._staging import (
            guarded_append_target,
            read_meta_row,
            require_meta_family,
            verify_frozen_handle,
        )

        if not _os.path.isdir(_os.path.join(path, "meta")):
            raise ValueError(
                f"no saved screen index under {path!r} (missing meta/)"
                " — save() there first; add(path=...) appends to an"
                " existing layout"
            )
        spark = self.weights.sparkSession
        meta = read_meta_row(spark, path)
        md = meta.asDict() if meta is not None else {}
        if md and "top_terms" not in md:
            # 'bands' alone is shared with the near-dup bucket meta;
            # top_terms is screen-unique
            raise ValueError(
                f"the index at {path!r} is not a screen-index layout "
                f"(its meta carries {sorted(md)}) — appending screen "
                "rows into a foreign layout would corrupt it"
            )
        require_meta_family(md, type(self).__name__, path)
        verify_frozen_handle(
            path,
            "(bands, rows_per_band, top_terms) dial",
            (self.bands, self.rows_per_band, self.top_terms),
            (int(md["bands"]), int(md["rows_per_band"]),
             int(md["top_terms"])) if md else None,
        )
        if md.get("stats_fp") is not None:
            if self._frozen_fp is None:
                self._frozen_fp = self._stats_fingerprint()
            verify_frozen_handle(
                path,
                "idf statistics",
                self._frozen_fp,
                (int(md["stats_rows"]), int(md["stats_fp"]),
                 int(md["n_docs"])),
            )
        for name in ("weights", "signatures"):
            guarded_append_target(_os.path.join(path, name))

    @staticmethod
    def compact(
        spark: SparkSession, path: str, weight_partitions: int = 8
    ) -> "TfidfScreenIndex":
        """Rewrite the ``weights`` and ``signatures`` parquet with
        coalesced files — the maintenance verb for an index grown by
        many small :meth:`add` appends (streaming ingest lands a
        file-set per micro-batch, and at some point FILE COUNT, not
        data size, dominates scan planning). Row-preserving (same
        rows, same schema — tested bit-equal through ``screen``):
        signatures collapse to one file per band directory, weights to
        ``weight_partitions`` files. Each dataset is rewritten to a
        staging directory and swapped in with renames (shared
        ``_staging.swap_in`` — crash recovery documented there; every
        loader falls back to the ``.old`` state and a re-run of
        compact picks it up). Not safe concurrently with ``add`` or
        active readers on the same path."""
        from ._staging import compact_dataset

        # shared compaction shape; explicit schemas because both
        # datasets can be legitimately EMPTY (all-zero-norm reference)
        compact_dataset(
            spark,
            path,
            "weights",
            n_partitions=weight_partitions,
            schema="doc_id bigint, term string, df bigint, w double",
        )
        compact_dataset(
            spark,
            path,
            "signatures",
            partition_col="band",
            schema="doc_id bigint, band int, sig string",
        )
        return TfidfScreenIndex.load(spark, path)

    def screen(
        self,
        incoming: DataFrame,
        threshold: float = 0.8,
        verify_shape: str = "map",
        max_bucket: int | None = None,
        exclude_same_id: bool = True,
    ) -> DataFrame:
        """One row per incoming doc — the banded screen contract
        (doc_id, match_id, match_cosine, tfidf_dup) against the frozen
        reference.

        ``exclude_same_id`` (default True) applies the gate's self-id
        rule: an incoming doc whose doc_id equals a reference doc_id
        is assumed to BE that reference doc (the incremental-ingest
        case — re-screened reference docs must not match themselves),
        so the pair is excluded before verification. Pass False when
        the incoming batch uses an INDEPENDENT id space, where an id
        collision is a coincidence and excluding the pair would
        silently suppress a true match.

        ``max_bucket`` applies the LSH skew guard to the REFERENCE
        side's signatures only — the guard is therefore a property of
        the frozen index, not of how incoming docs are batched, which
        is what keeps per-doc output independent of batch composition
        (the streaming foreachBatch exactness relies on this). The
        incoming side's per-batch bucket sizes are bounded by the
        batch itself."""
        w_in = _weight_incoming_under(incoming, self.stats, self.n)
        sig_in = _banded_signatures(
            w_in, self.bands, self.rows_per_band, self.top_terms
        ).withColumnRenamed("doc_id", "in_id")
        sig_ref = self.signatures.withColumnRenamed("doc_id", "ref_id")
        if max_bucket is not None:
            oversized = scoped_persist(
                sig_ref.groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > max_bucket)
                .select("band", "sig")
            )
            sig_in = sig_in.join(oversized, ["band", "sig"], "left_anti")
            sig_ref = sig_ref.join(
                oversized, ["band", "sig"], "left_anti"
            )
        joined = sig_in.join(sig_ref, ["band", "sig"])
        if exclude_same_id:
            joined = joined.where(F.col("in_id") != F.col("ref_id"))
        cand = joined.select("in_id", "ref_id").distinct()
        return _screen_contract(
            incoming,
            w_in,
            self.weights,
            cand,
            threshold,
            verify_shape,
            self_screen=False,
        )

    def staleness(self, top_k: int = 100) -> DataFrame:
        """One-row frozen-idf drift report, computed entirely from the
        index's own frames (appended docs carry their rows in
        ``weights``, OOV terms included with frozen df=0, so no raw
        text is needed). Columns:

        - n_docs_frozen / n_docs_now / growth_ratio: corpus count the
          idf froze at vs docs the index actually holds.
        - idf_drift_mad: current-df-weighted mean |idf_frozen -
          idf_would_be| over the frozen vocabulary — the average
          per-term-occurrence idf error a fresh rebuild would correct
          (both idfs the engine's own round6(ln((n+1)/(df+1)))).
        - idf_drift_max: the worst single term's |delta|.
        - new_term_mass: fraction of current (doc, term) rows whose
          term the frozen stats never saw — weighted with the flat OOV
          idf today; pure distribution-shift signal.
        - top_term_churn: 1 - Jaccard of the top-``top_k`` terms by df,
          frozen vs current (df desc, term asc tie-break) — the
          head-of-vocabulary movement the screen's top-term signatures
          actually feel.

        Determinism: round6 per-term values, DECIMAL(18,6) sums,
        integer counts — the report is DuckDB-replayable and graded
        (q114). Rebuild rule (measured in SCALING.md "Index
        staleness"): screen recall holds while drift stays small —
        rebuild when idf_drift_mad exceeds ~0.10, new_term_mass ~0.05,
        or top_term_churn ~0.3; growth_ratio alone is NOT the trigger
        (a 4x append of same-distribution data moves recall far less
        than a small distribution shift does)."""
        # the term histogram feeds the drift/mass join AND the
        # top-term churn; the joined frame feeds two aggregates; the
        # 1-row doc count feeds both's broadcast AND the counts row —
        # persist all three so one staleness() call scans the
        # (doc, term) weights table twice (histogram + doc count),
        # not ~4x (vocabulary-sized + 1-row frames)
        cur = scoped_persist(
            self.weights.groupBy("term").agg(
                F.count(F.lit(1)).alias("df_now")
            )
        )
        n_now = scoped_persist(
            self.weights.select(
                F.count_distinct("doc_id").alias("n_docs_now")
            )
        )
        both = scoped_persist((
            self.stats.withColumnRenamed("df", "df_frozen")
            .join(cur, "term", "full_outer")
            .crossJoin(F.broadcast(self.n))
            .crossJoin(F.broadcast(n_now))
            .select(
                F.coalesce("df_frozen", F.lit(0)).alias("df_frozen"),
                F.coalesce("df_now", F.lit(0)).alias("df_now"),
                F.col("df_frozen").isNull().alias("is_new"),
                round6(
                    F.log(
                        (F.col("n_docs") + 1).cast("double")
                        / (F.coalesce("df_frozen", F.lit(0)) + 1)
                    )
                ).alias("idf_frozen"),
                round6(
                    F.log(
                        (F.col("n_docs_now") + 1).cast("double")
                        / (F.coalesce("df_now", F.lit(0)) + 1)
                    )
                ).alias("idf_now"),
            )
        ))
        # df_now=0 frozen terms (every doc that carried them had zero
        # norm) would inflate the max with a phantom delta — they are
        # served to nobody, so exclude them from both drift columns
        drift = both.where(~F.col("is_new") & (F.col("df_now") > 0)).agg(
            round6(
                F.sum(
                    round6(
                        F.col("df_now")
                        * F.abs(F.col("idf_now") - F.col("idf_frozen"))
                    ).cast("decimal(18,6)")
                ).cast("double")
                / F.sum("df_now")
            ).alias("idf_drift_mad"),
            F.max(
                round6(F.abs(F.col("idf_now") - F.col("idf_frozen")))
            ).alias("idf_drift_max"),
        )
        mass = both.agg(
            round6(
                F.sum(F.when(F.col("is_new"), F.col("df_now")).otherwise(0))
                / F.sum("df_now").cast("double")
            ).alias("new_term_mass")
        )
        top_f = (
            self.stats.orderBy(F.desc("df"), "term")
            .limit(top_k)
            .select("term")
        )
        top_n = cur.orderBy(F.desc("df_now"), "term").limit(top_k).select(
            "term"
        )
        churn = (
            top_f.withColumn("_f", F.lit(1))
            .join(top_n.withColumn("_n", F.lit(1)), "term", "full_outer")
            .agg(
                round6(
                    1.0
                    - F.sum(
                        F.when(
                            F.col("_f").isNotNull()
                            & F.col("_n").isNotNull(),
                            1,
                        ).otherwise(0)
                    )
                    / F.count(F.lit(1)).cast("double")
                ).alias("top_term_churn")
            )
        )
        counts = (
            self.n.crossJoin(n_now)
            .select(
                F.col("n_docs").alias("n_docs_frozen"),
                "n_docs_now",
                round6(
                    F.col("n_docs_now") / F.col("n_docs").cast("double")
                ).alias("growth_ratio"),
            )
        )
        return (
            counts.crossJoin(drift).crossJoin(mass).crossJoin(churn)
        )

    @staticmethod
    def maybe_rebuild(
        spark: SparkSession,
        path: str,
        docs: DataFrame,
        top_k: int = 100,
        **thresholds,
    ):
        """Staleness -> verdict -> staged rebuild+swap, in one call —
        the loop :func:`screen_rebuild_verdict` left manual: measure
        the saved index's frozen-idf drift (q114's report), apply the
        measured rule, and when it trips, BUILD fresh over ``docs``
        (the current reference corpus — weights cannot be inverted to
        text, so the raw docs are a required input), write the new
        layout to a staging root, and swap via
        ``_staging.rebuild_root`` (rename protocol; ``load`` falls
        back to ``<path>.old`` across the crash window; streaming
        ingest epoch markers are preserved so a checkpointed stream
        resuming after the rebuild still dedups batches the rebuild
        already contains). The fresh build keeps the saved (bands,
        rows_per_band, top_terms) dial; recalibrate separately
        (:func:`calibrate_band_dial`) when the corpus moved enough to
        warrant it. Returns ``(index, verdict, report_row)`` —
        ``index`` is the freshly-swapped load when rebuilt, the
        current one otherwise; ``thresholds`` forward to the
        verdict."""
        from ._staging import recover_before_rebuild

        recover_before_rebuild(path, spark)
        idx = TfidfScreenIndex.load(spark, path)
        report = idx.staleness(top_k).collect()[0]
        verdict = screen_rebuild_verdict(report, **thresholds)
        if not verdict.rebuild:
            return idx, verdict, report
        from ._staging import rebuild_root, refresh_root

        def _fresh(staging: str) -> None:
            TfidfScreenIndex.build(
                docs, idx.bands, idx.rows_per_band, idx.top_terms
            ).save(staging)

        rebuild_root(path, _fresh)
        refresh_root(spark, path)
        return TfidfScreenIndex.load(spark, path), verdict, report


def tfidf_banded_screen(
    incoming: DataFrame,
    reference: DataFrame,
    threshold: float = 0.8,
    bands: int = TFIDF_BAND_BANDS,
    rows_per_band: int = TFIDF_BAND_ROWS,
    top_terms: int = TFIDF_BAND_TOP_TERMS,
    verify_shape: str = "map",
) -> DataFrame:
    """q102's output contract with the exact prefix candidate stage
    swapped for the banded minhash screen — the approximate rung of
    the TF-IDF SCREEN ladder (broadcast gate -> sharded gate ->
    join-based exact -> THIS), completing the same size ladder the kNN
    family got with q110. Weights, verification, and the one-row-per-
    incoming-doc contract are SHARED with :func:`tfidf_screen_join`
    (`_screen_weight_frames` / `_screen_contract`), so only the
    candidate generator differs: both sides' top-weight terms are
    minhash-signed with the same seeds and candidates are (band, sig)
    collisions.

    RECALL CAVEAT (the dial's price, stated plainly): a flagged doc's
    match is exactly verified and genuinely >= threshold, but it is
    the best over COLLIDED candidates only, and a doc whose true
    qualifying match never collided is reported unflagged — unlike the
    exact rung, where prefix losslessness makes best-over-candidates
    = best-over-all. Fully deterministic, so the banding stages replay
    in the DuckDB oracle and the recall loss is cross-engine SPEC.
    ``verify_shape`` defaults to ``'map'`` (fully lazy)."""
    w_in, w_ref = _screen_weight_frames(incoming, reference)
    self_screen = w_in is w_ref
    if self_screen:
        sigs = scoped_persist(
            _banded_signatures(w_ref, bands, rows_per_band, top_terms)
        )
        sig_in = sigs.withColumnRenamed("doc_id", "in_id")
        sig_ref = sigs.withColumnRenamed("doc_id", "ref_id")
    else:
        sig_in = _banded_signatures(
            w_in, bands, rows_per_band, top_terms
        ).withColumnRenamed("doc_id", "in_id")
        sig_ref = _banded_signatures(
            w_ref, bands, rows_per_band, top_terms
        ).withColumnRenamed("doc_id", "ref_id")
    pair_pred = (
        (F.col("in_id") < F.col("ref_id"))
        if self_screen
        else (F.col("in_id") != F.col("ref_id"))
    )
    cand = (
        sig_in.join(sig_ref, ["band", "sig"])
        .where(pair_pred)
        .select("in_id", "ref_id")
        .distinct()
    )
    return _screen_contract(
        incoming, w_in, w_ref, cand, threshold, verify_shape, self_screen
    )


def q111_tfidf_banded_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_banded_screen(docs, docs, threshold=0.8)


def _screen_verify(
    incoming: DataFrame,
    w_in: DataFrame,
    w_ref: DataFrame,
    threshold: float,
    verify_shape: str,
) -> DataFrame:
    """tfidf_screen_join's candidate + verify + contract stage over
    already-built weight frames (split out so the self-screen fast
    path can feed the SAME frame to both sides)."""
    from pyspark.sql import Window

    def prefix(w: DataFrame) -> DataFrame:
        sufw = (
            Window.partitionBy("doc_id")
            .orderBy(F.col("df").asc(), F.col("term").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        docw = Window.partitionBy("doc_id")
        slack = F.lit(1e-9) + 5e-7 * F.count(F.lit(1)).over(docw)
        return (
            w.withColumn(
                "sufnorm",
                F.sqrt(F.sum(F.col("w") * F.col("w")).over(sufw)),
            )
            .withColumn("_slack", slack)
            .where(F.col("sufnorm") >= threshold - F.col("_slack"))
            .select("doc_id", "term")
        )
    self_screen = w_in is w_ref
    if self_screen:
        # one prefix computation (window pass) feeds both join sides
        pfx = scoped_persist(prefix(w_ref))
        pfx_in = pfx.withColumnRenamed("doc_id", "in_id")
        pfx_ref = pfx.withColumnRenamed("doc_id", "ref_id")
    else:
        pfx_in = prefix(w_in).withColumnRenamed("doc_id", "in_id")
        pfx_ref = prefix(w_ref).withColumnRenamed("doc_id", "ref_id")
    # self-screen: generate each unordered pair ONCE (in_id < ref_id),
    # verify once, symmetrize after — dot(a,b) == dot(b,a) exactly
    # (round6(x*y) is symmetric and the DECIMAL sum is order-free), so
    # this halves candidate volume and verification cost with a
    # bit-identical result (equivalence-fuzzed vs the general path)
    pair_pred = (
        (F.col("in_id") < F.col("ref_id"))
        if self_screen
        else (F.col("in_id") != F.col("ref_id"))
    )
    cand = (
        pfx_in.join(pfx_ref, "term")
        .where(pair_pred)
        .select("in_id", "ref_id")
        .distinct()
    )
    # For at-or-above-threshold pairs the prefix bound is LOSSLESS, so
    # best-over-candidates equals best-over-ALL-references — which is
    # exactly what lets the all-pairs oracle stay exact.
    return _screen_contract(
        incoming, w_in, w_ref, cand, threshold, verify_shape, self_screen
    )


def _screen_contract(
    incoming: DataFrame,
    w_in: DataFrame,
    w_ref: DataFrame,
    cand: DataFrame,
    threshold: float,
    verify_shape: str,
    self_screen: bool,
) -> DataFrame:
    """The screen family's verify + contract tail over a candidate
    frame (in_id, ref_id): exact verification in the map or keyed
    plan shape (data-driven — see _verified_dots), then the CONTRACT
    filter — only pairs at or above the threshold are reported. A
    sub-threshold "best" would depend on which candidates the
    upstream screen happens to admit (not a portable semantics), so
    unflagged docs carry NULL match columns, mirroring the gate. One
    definition shared by the exact (q102) and banded (q111) screens
    so the contract cannot drift; with self_screen each unordered
    pair is verified ONCE and symmetrized after (dot is exactly
    symmetric: round6(x*y) commutes and the DECIMAL sum is
    order-free)."""
    from pyspark.sql import Window

    dots = _verified_dots(
        cand, w_in, w_ref, "in_id", "ref_id", verify_shape
    ).where(F.col("dot").cast("double") >= threshold)
    if self_screen:
        # persist the (tiny) post-threshold verified pairs so the
        # union's two branches don't recompute the verification
        dots = scoped_persist(dots)
        dots = dots.unionAll(
            dots.select(
                F.col("ref_id").alias("in_id"),
                F.col("in_id").alias("ref_id"),
                "dot",
            )
        )
    best = Window.partitionBy("in_id").orderBy(
        F.col("dot").desc(), F.col("ref_id").asc()
    )
    top = (
        dots.withColumn("_rk", F.row_number().over(best))
        .where(F.col("_rk") == 1)
        .select(
            F.col("in_id").alias("doc_id"),
            F.col("ref_id").alias("match_id"),
            round6(F.col("dot").cast("double")).alias("match_cosine"),
            F.lit(True).alias("_flag"),
        )
    )
    return incoming.select("doc_id").join(top, "doc_id", "left").select(
        "doc_id",
        "match_id",
        "match_cosine",
        F.coalesce("_flag", F.lit(False)).alias("tfidf_dup"),
    )


def q102_tfidf_reference_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-screen of the corpus under the frozen-idf convention: one
    row per document with its best other-document cosine and the dup
    flag — the fully distributed form of the ingest gate (reference =
    incoming = documents; self-matches excluded)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_screen_join(docs, docs, threshold=0.8)


Q99_SQL = """
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), stats AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w0 AS (
  SELECT doc_id, terms.term,
         tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS w_raw
  FROM terms JOIN stats USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
                   AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), w AS (
  SELECT doc_id, term, ROUND(w_raw / nrm, 6) AS w
  FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), hits AS (
  SELECT * FROM dots WHERE CAST(dot AS DOUBLE) >= 0.8
), sym AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot FROM hits
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot FROM hits
)
SELECT doc_id, neighbor_id, ROUND(CAST(dot AS DOUBLE), 6) AS cosine, nn_rank
FROM (
  SELECT doc_id, neighbor_id, dot,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY dot DESC, neighbor_id) AS nn_rank
  FROM sym
)
WHERE nn_rank <= 10
"""


DECONTAM_NGRAM = 3


def decontaminate_spans(docs: DataFrame, n: int = DECONTAM_NGRAM) -> DataFrame:
    """SURGICAL test-set decontamination — q58's span-level sibling:
    instead of dropping every training document sharing a single
    ``n``-gram with the test split (q58's census, which at realistic
    contamination rates discards documents wholesale for one leaked
    sentence), remove exactly the words covered by a contaminated
    ``n``-gram and keep the rest. The standard production shape
    (GPT-3/PaLM-style span excision).

    Per train doc: (doc_id, n_words, n_removed, clean_md5) — the md5
    of the redacted space-joined text, so the oracle certifies the
    exact surviving byte sequence, not just counts. Uncontaminated
    docs pass through with n_removed = 0 and the original text's md5.

    Scale shape: the test-shingle set is 8-byte hashes (distinct,
    broadcast-or-shuffle semi-join); train-side n-grams explode one
    row per start position but carry only (doc_id, pos, hash) —
    never text — and collapse back to one starts-array row per
    contaminated doc; the rewrite is a single array expression over
    the original words column (no UDF, no shuffle of text)."""
    with_split = docs.withColumn("split", split_col())
    from .dedup import hashed_shingles

    # shingle ONLY the test split (~5% of the corpus): the filter
    # must sit below the generator explicitly — Catalyst cannot push
    # an equi-join beneath it, so joining after hashing would explode
    # and md5 the whole corpus's shingles to discard 95%
    test_h = (
        hashed_shingles(
            with_split.filter(F.col("split") == "test"), n
        )
        .select("h")
        .distinct()
    )
    from .dedup import hash60

    train = with_split.filter(F.col("split") == "train").select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    tr_ng = (
        train.select(
            "doc_id",
            "ws",
            F.explode(
                F.when(
                    F.size("ws") >= n,
                    F.expr(f"sequence(1, size(ws) - {n - 1})"),
                ).otherwise(F.expr("array()"))
            ).alias("i"),
        )
        .withColumn(
            "h",
            hash60(F.expr(f"array_join(slice(ws, i, {n}), ' ')")),
        )
        .select("doc_id", "i", "h")
    )
    starts = (
        tr_ng.join(test_h, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("i")).alias("starts"))
    )
    kept = F.expr(
        "filter(transform(ws, (w, j) -> struct(w as w, j as j)),"
        " x -> NOT exists(coalesce(starts, array()),"
        f" s -> s <= x.j + 1 AND x.j + 1 <= s + {n - 1}))"
    )
    return (
        train.join(starts, "doc_id", "left")
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.size("ws").cast("long").alias("n_words"),
            (F.size("ws") - F.size("_kept")).cast("long").alias("n_removed"),
            F.md5(
                F.array_join(
                    F.expr("transform(_kept, x -> x.w)"), " "
                )
            ).alias("clean_md5"),
        )
    )


def q105_decontaminate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return decontaminate_spans(load_table(spark, sf_dir, "documents"))


Q105_SQL = f"""
WITH split AS (
  SELECT doc_id, text,
    CASE WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
         WHEN CAST('0x' || substring(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
), test_h AS (
  SELECT DISTINCT
    CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h
  FROM (
    SELECT unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(string_split(text, ' ')) - {DECONTAM_NGRAM - 1}, 0)),
      i -> array_to_string(string_split(text, ' ')[i:i+{DECONTAM_NGRAM - 1}], ' ')))) AS shingle
    FROM split WHERE split = 'test'
  )
), tws AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM split WHERE split = 'train'
), tr_ng AS (
  SELECT doc_id, i,
    CAST('0x' || substring(md5(array_to_string(ws[i:i+{DECONTAM_NGRAM - 1}], ' ')), 1, 15) AS BIGINT) AS h
  FROM tws, LATERAL unnest(generate_series(1, greatest(len(ws) - {DECONTAM_NGRAM - 1}, 0))) AS u(i)
), cont AS (
  SELECT doc_id, list_sort(list(i)) AS starts
  FROM tr_ng JOIN test_h USING (h)
  GROUP BY doc_id
), redacted AS (
  SELECT t.doc_id, t.ws,
    list_filter(generate_series(1, len(t.ws)),
      j -> len(list_filter(coalesce(c.starts, []),
                s -> s <= j AND j <= s + {DECONTAM_NGRAM - 1})) = 0) AS kept
  FROM tws t LEFT JOIN cont c ON c.doc_id = t.doc_id
)
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_words,
  CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
  -- COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
  -- array_join([]) is '' — a fully-redacted doc hashes md5('')
  md5(COALESCE(array_to_string(list_transform(kept, j -> ws[j]), ' '), ''))
    AS clean_md5
FROM redacted
"""


# q110/q112 oracle: FULL stage mirror of the banded path — the same
# weight frame as Q99_SQL, then the banding stages replayed literally
# (top-weight prefix with the identical rank tie, md5 minhash per
# seed, ORDER BY seed signature concat, (band, sig) self-join) and the
# same exact verify + kNN tail. Deterministic end to end, so recall
# loss is part of the SPEC both engines compute, not noise. Templated
# on the dial so the default rung (q110) and the chooser-selected rung
# (q112) replay one definition.
def _banded_knn_sql(
    bands: int, rows_per_band: int, top_terms: int, threshold: float
) -> str:
    return f"""
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), stats AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w0 AS (
  SELECT doc_id, terms.term,
         tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS w_raw
  FROM terms JOIN stats USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
                   AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), w AS (
  SELECT doc_id, term, ROUND(w_raw / nrm, 6) AS w
  FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), topt AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY w DESC, term ASC) AS rk
    FROM w
  ) WHERE rk <= {top_terms}
), seeds AS (
  SELECT unnest(generate_series(
    0, {bands * rows_per_band - 1})) AS seed
), mh AS (
  SELECT doc_id, seed,
    MIN(CAST('0x' || substring(
      md5(CAST(seed AS VARCHAR) || ':' || term), 1, 15) AS BIGINT)) AS mh
  FROM topt CROSS JOIN seeds GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band,
    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
  FROM sigs s1 JOIN sigs s2
    ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
), dots AS (
  SELECT c.doc_a, c.doc_b,
         SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot
  FROM cand c
  JOIN w a ON a.doc_id = c.doc_a
  JOIN w b ON b.doc_id = c.doc_b AND b.term = a.term
  GROUP BY 1, 2
), hits AS (
  SELECT * FROM dots WHERE CAST(dot AS DOUBLE) >= {threshold}
), sym AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot FROM hits
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot FROM hits
)
SELECT doc_id, neighbor_id, ROUND(CAST(dot AS DOUBLE), 6) AS cosine, nn_rank
FROM (
  SELECT doc_id, neighbor_id, dot,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY dot DESC, neighbor_id) AS nn_rank
  FROM sym
)
WHERE nn_rank <= 10
"""


Q110_SQL = _banded_knn_sql(
    TFIDF_BAND_BANDS, TFIDF_BAND_ROWS, TFIDF_BAND_TOP_TERMS, 0.8
)

# q112: the banded kNN rung at a CHOOSER-SELECTED dial — the graded
# proof that the dial machinery wires straight into the operator and
# its oracle (both sides template the chosen (bands, rows) into the
# same stage definitions). The full calibration loop, as a user would
# run it: the r9 measured operating point ((8,2) -> recall 0.850 at
# sf0.01, SCALING.md) inverts to the corpus's effective threshold-pair
# Jaccard, and the chooser turns (J_eff, target 0.95) into (13, 2) —
# model recall 0.954, i.e. the model PREDICTS ~0.95 measured recall at
# this dial; the round-10 SCALING.md row records model vs measured.
Q112_THRESHOLD = 0.8
Q112_TARGET_RECALL = 0.95
Q112_CALIBRATION = (8, 2, 0.850)  # r9 measured: dial -> recall
Q112_DIAL = choose_band_dial(
    target_recall=Q112_TARGET_RECALL,
    jaccard=effective_jaccard(*Q112_CALIBRATION),
)


def q112_tfidf_banded_knn_dialed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bands, rows_per_band = Q112_DIAL
    return tfidf_banded_knn(
        load_table(spark, sf_dir, "documents"),
        threshold=Q112_THRESHOLD,
        bands=bands,
        rows_per_band=rows_per_band,
    )


Q112_SQL = _banded_knn_sql(
    Q112_DIAL[0], Q112_DIAL[1], TFIDF_BAND_TOP_TERMS, Q112_THRESHOLD
)


# q117: the calibration MEASUREMENT itself, graded — one row
# (n_true_edges, n_banded_hits, measured_recall) at the frozen probe
# dial (8,2,16). This is the stage calibrate_band_dial() collects
# before inverting the S-curve, so grading it makes the whole
# one-call loop cross-engine checked: the pure inverse+chooser are
# property-tested bit-exact, and the measured operating point they
# consume is now oracle-pinned too. The oracle replays the exact-kNN
# edge set (Q99's chain) and the banded candidates (Q110's banding
# stages) and counts the semi-join — the same CTE definitions the
# graded rungs already use, composed.
def q117_band_dial_measurement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return band_dial_measurement(load_table(spark, sf_dir, "documents"))


def _band_measurement_sql(
    bands: int, rows_per_band: int, top_terms: int, threshold: float,
    max_neighbors: int,
) -> str:
    return f"""
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), stats AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w0 AS (
  SELECT doc_id, terms.term,
         tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS w_raw
  FROM terms JOIN stats USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
                   AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), w AS (
  SELECT doc_id, term, ROUND(w_raw / nrm, 6) AS w
  FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), hits AS (
  SELECT * FROM dots WHERE CAST(dot AS DOUBLE) >= {threshold}
), sym AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, dot FROM hits
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, dot FROM hits
), knn AS (
  SELECT doc_id, neighbor_id FROM (
    SELECT doc_id, neighbor_id,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY dot DESC, neighbor_id) AS nn_rank
    FROM sym
  ) WHERE nn_rank <= {max_neighbors}
), true_edges AS (
  SELECT DISTINCT least(doc_id, neighbor_id) AS doc_a,
                  greatest(doc_id, neighbor_id) AS doc_b
  FROM knn
), topt AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY w DESC, term ASC) AS rk
    FROM w
  ) WHERE rk <= {top_terms}
), seeds AS (
  SELECT unnest(generate_series(
    0, {bands * rows_per_band - 1})) AS seed
), mh AS (
  SELECT doc_id, seed,
    MIN(CAST('0x' || substring(
      md5(CAST(seed AS VARCHAR) || ':' || term), 1, 15) AS BIGINT)) AS mh
  FROM topt CROSS JOIN seeds GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band,
    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
  FROM sigs s1 JOIN sigs s2
    ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
), banded_hits AS (
  SELECT t.doc_a, t.doc_b FROM true_edges t
  JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT
  (SELECT COUNT(*) FROM true_edges) AS n_true_edges,
  (SELECT COUNT(*) FROM banded_hits) AS n_banded_hits,
  ROUND((SELECT COUNT(*) FROM banded_hits)
        / NULLIF((SELECT COUNT(*) FROM true_edges), 0)::DOUBLE, 6)
    AS measured_recall
"""


Q117_SQL = _band_measurement_sql(
    TFIDF_BAND_BANDS, TFIDF_BAND_ROWS, TFIDF_BAND_TOP_TERMS, 0.8, 10
)


# q102 oracle: the all-pairs spec of the self-screen — reference =
# incoming = documents, so the frozen reference idf IS the corpus idf
# and no term is OOV; best other-doc DECIMAL dot per doc (ties to the
# lowest id), flag on the unrounded decimal-as-double, one row per
# document including zero-norm / matchless docs.
Q102_SQL = """
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), stats AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w0 AS (
  SELECT doc_id, terms.term,
         tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS w_raw
  FROM terms JOIN stats USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
                   AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), w AS (
  SELECT doc_id, term, ROUND(w_raw / nrm, 6) AS w
  FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), dots AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
         SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), best AS (
  -- contract: only QUALIFYING matches are reported (>= threshold);
  -- for those the engine's prefix bound is lossless, so this
  -- all-pairs best equals the engine's best-over-candidates
  SELECT doc_id, match_id, dot FROM (
    SELECT doc_id, match_id, dot,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY dot DESC, match_id) AS rn
    FROM dots
    WHERE CAST(dot AS DOUBLE) >= 0.8
  ) WHERE rn = 1
)
SELECT d.doc_id,
  b.match_id,
  ROUND(CAST(b.dot AS DOUBLE), 6) AS match_cosine,
  b.match_id IS NOT NULL AS tfidf_dup
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
"""


# q111 oracle: Q102's self-screen weight frame and contract tail with
# the candidate stage replaced by the SAME banding stages as Q110 —
# each unordered collision pair verified once, symmetrized before the
# per-doc best, so the oracle computes exactly the banded screen's
# (recall-limited) spec rather than the all-pairs best.
Q111_SQL = f"""
WITH terms AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), stats AS (
  SELECT term, COUNT(*) AS df FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
w0 AS (
  SELECT doc_id, terms.term,
         tf * ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS w_raw
  FROM terms JOIN stats USING (term) CROSS JOIN n
), norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
                   AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), w AS (
  SELECT doc_id, term, ROUND(w_raw / nrm, 6) AS w
  FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), topt AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY w DESC, term ASC) AS rk
    FROM w
  ) WHERE rk <= {TFIDF_BAND_TOP_TERMS}
), seeds AS (
  SELECT unnest(generate_series(
    0, {TFIDF_BAND_BANDS * TFIDF_BAND_ROWS - 1})) AS seed
), mh AS (
  SELECT doc_id, seed,
    MIN(CAST('0x' || substring(
      md5(CAST(seed AS VARCHAR) || ':' || term), 1, 15) AS BIGINT)) AS mh
  FROM topt CROSS JOIN seeds GROUP BY doc_id, seed
), sigs AS (
  SELECT doc_id, CAST(seed // {TFIDF_BAND_ROWS} AS INT) AS band,
    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, band
), cand AS (
  SELECT DISTINCT s1.doc_id AS in_id, s2.doc_id AS ref_id
  FROM sigs s1 JOIN sigs s2
    ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
), dots AS (
  SELECT c.in_id, c.ref_id,
         SUM(CAST(ROUND(a.w * b.w, 6) AS DECIMAL(18,6))) AS dot
  FROM cand c
  JOIN w a ON a.doc_id = c.in_id
  JOIN w b ON b.doc_id = c.ref_id AND b.term = a.term
  GROUP BY 1, 2
), hits AS (
  SELECT * FROM dots WHERE CAST(dot AS DOUBLE) >= 0.8
), sym AS (
  SELECT in_id AS doc_id, ref_id AS match_id, dot FROM hits
  UNION ALL
  SELECT ref_id AS doc_id, in_id AS match_id, dot FROM hits
), best AS (
  SELECT doc_id, match_id, dot FROM (
    SELECT doc_id, match_id, dot,
      ROW_NUMBER() OVER (PARTITION BY doc_id
                         ORDER BY dot DESC, match_id) AS rn
    FROM sym
  ) WHERE rn = 1
)
SELECT d.doc_id,
  b.match_id,
  ROUND(CAST(b.dot AS DOUBLE), 6) AS match_cosine,
  b.match_id IS NOT NULL AS tfidf_dup
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# q114: the screen index's frozen-idf staleness report as a graded
# query — build the index on the even half of the corpus, append the
# odd half under the frozen stats (the production growing-reference
# event), and report the drift metrics the rebuild rule reads. The
# oracle replays the whole chain: frozen stats on the even half, ALL
# docs weighted under them (OOV idf ln(n+1) included), the norm>0
# filter, then the same round6/DECIMAL metric arithmetic.
def q114_screen_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    idx = TfidfScreenIndex.build(docs.filter(F.col("doc_id") % 2 == 0))
    return idx.add(docs.filter(F.col("doc_id") % 2 == 1)).staleness()


Q114_SQL = """
WITH frozen_docs AS (
  SELECT * FROM documents WHERE doc_id % 2 = 0
), terms_f AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM frozen_docs
  ) GROUP BY doc_id, term
), stats_f AS (
  SELECT term, COUNT(*) AS df FROM terms_f GROUP BY term
), nf AS (SELECT COUNT(*) AS n_docs FROM frozen_docs),
terms_all AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
  ) GROUP BY doc_id, term
), w0 AS (
  SELECT t.doc_id, t.term,
    tf * (CASE WHEN s.df IS NULL
          THEN ROUND(ln(CAST(n_docs + 1 AS DOUBLE)), 6)
          ELSE ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (s.df + 1)), 6)
          END) AS w_raw
  FROM terms_all t LEFT JOIN stats_f s USING (term) CROSS JOIN nf
), norms AS (
  SELECT doc_id,
    sqrt(CAST(SUM(CAST(ROUND(w_raw * w_raw, 6) AS DECIMAL(18,6)))
              AS DOUBLE)) AS nrm
  FROM w0 GROUP BY doc_id
), wrows AS (
  SELECT doc_id, term FROM w0 JOIN norms USING (doc_id) WHERE nrm > 0
), cur AS (
  SELECT term, COUNT(*) AS df_now FROM wrows GROUP BY term
), nn AS (SELECT COUNT(DISTINCT doc_id) AS n_docs_now FROM wrows),
bothv AS (
  SELECT COALESCE(s.df, 0) AS df_frozen, COALESCE(c.df_now, 0) AS df_now,
    s.df IS NULL AS is_new,
    ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (COALESCE(s.df, 0) + 1)), 6)
      AS idf_frozen,
    ROUND(ln(CAST(n_docs_now + 1 AS DOUBLE) / (COALESCE(c.df_now, 0) + 1)),
          6) AS idf_now
  FROM stats_f s FULL OUTER JOIN cur c USING (term)
  CROSS JOIN nf CROSS JOIN nn
), drift AS (
  SELECT
    ROUND(CAST(SUM(CAST(ROUND(df_now * abs(idf_now - idf_frozen), 6)
                        AS DECIMAL(18,6))) AS DOUBLE) / SUM(df_now), 6)
      AS idf_drift_mad,
    MAX(ROUND(abs(idf_now - idf_frozen), 6)) AS idf_drift_max
  FROM bothv WHERE NOT is_new AND df_now > 0
), mass AS (
  SELECT ROUND(SUM(CASE WHEN is_new THEN df_now ELSE 0 END)
    / CAST(SUM(df_now) AS DOUBLE), 6) AS new_term_mass
  FROM bothv
), top_f AS (
  SELECT term, 1 AS _f FROM stats_f ORDER BY df DESC, term LIMIT 100
), top_n AS (
  SELECT term, 1 AS _n FROM cur ORDER BY df_now DESC, term LIMIT 100
), churn AS (
  SELECT ROUND(1.0 - SUM(CASE WHEN _f IS NOT NULL AND _n IS NOT NULL
                          THEN 1 ELSE 0 END)
    / CAST(COUNT(*) AS DOUBLE), 6) AS top_term_churn
  FROM top_f FULL OUTER JOIN top_n USING (term)
), counts AS (
  SELECT n_docs AS n_docs_frozen, n_docs_now,
    ROUND(n_docs_now / CAST(n_docs AS DOUBLE), 6) AS growth_ratio
  FROM nf CROSS JOIN nn
)
SELECT counts.*, drift.*, mass.*, churn.*
FROM counts CROSS JOIN drift CROSS JOIN mass CROSS JOIN churn
"""


QUERIES = {
    "q21_token_stats": q21_token_stats,
    "q22_quality_scores": q22_quality_scores,
    "q23_lang_id": q23_lang_id,
    "q24_fingerprints": q24_fingerprints,
    "q53_train_split": q53_train_split,
    "q54_pack_sequences": q54_pack_sequences,
    "q57_source_mixing": q57_source_mixing,
    "q58_decontaminate": q58_decontaminate,
    "q59_repetition_stats": q59_repetition_stats,
    "q61_tfidf_top_terms": q61_tfidf_top_terms,
    "q63_bigram_novelty": q63_bigram_novelty,
    "q74_passage_dedup": q74_passage_dedup,
    "q76_bigram_lm_nll": q76_bigram_lm_nll,
    "q77_contamination_score": q77_contamination_score,
    "q78_bm25_topk": q78_bm25_topk,
    "q80_sliding_chunks": q80_sliding_chunks,
    "q81_stratified_sample": q81_stratified_sample,
    "q84_quality_gate": q84_quality_gate,
    "q85_token_budget": q85_token_budget,
    "q95_bpe_token_budget": q95_bpe_token_budget,
    "q97_bpe_pack_sequences": q97_bpe_pack_sequences,
    "q99_tfidf_cosine_knn": q99_tfidf_cosine_knn,
    "q102_tfidf_reference_screen": q102_tfidf_reference_screen,
    "q110_tfidf_banded_knn": q110_tfidf_banded_knn,
    "q111_tfidf_banded_screen": q111_tfidf_banded_screen,
    "q112_tfidf_banded_knn_dialed": q112_tfidf_banded_knn_dialed,
    "q114_screen_staleness": q114_screen_staleness,
    "q117_band_dial_measurement": q117_band_dial_measurement,
    "q118_temperature_mix_plan": q118_temperature_mix_plan,
    "q119_mixture_assignment": q119_mixture_assignment,
    "q121_dedup_adjusted_mix": q121_dedup_adjusted_mix,
    "q122_source_health": q122_source_health,
    "q123_source_overlap": q123_source_overlap,
    "q124_mixture_plan_drift": q124_mixture_plan_drift,
    "q125_source_external_dup": q125_source_external_dup,
    "q126_source_shingle_overlap": q126_source_shingle_overlap,
    "q105_decontaminate_spans": q105_decontaminate_spans,
}

ORACLE = {
    "q114_screen_staleness": Q114_SQL,
    "q117_band_dial_measurement": Q117_SQL,
    "q118_temperature_mix_plan": Q118_SQL,
    "q119_mixture_assignment": Q119_SQL,
    "q121_dedup_adjusted_mix": Q121_SQL,
    "q122_source_health": Q122_SQL,
    "q123_source_overlap": _q123_sql(),
    "q124_mixture_plan_drift": Q124_SQL,
    "q125_source_external_dup": _q125_sql(),
    "q126_source_shingle_overlap": _q126_sql(),
    "q80_sliding_chunks": Q80_SQL,
    "q81_stratified_sample": Q81_SQL,
    "q84_quality_gate": Q84_SQL,
    "q85_token_budget": Q85_SQL,
    "q21_token_stats": Q21_SQL,
    "q22_quality_scores": Q22_SQL,
    "q23_lang_id": Q23_SQL,
    "q24_fingerprints": Q24_SQL,
    "q53_train_split": Q53_SQL,
    "q54_pack_sequences": Q54_SQL,
    "q57_source_mixing": Q57_SQL,
    "q58_decontaminate": Q58_SQL,
    "q59_repetition_stats": Q59_SQL,
    "q61_tfidf_top_terms": Q61_SQL,
    "q63_bigram_novelty": _q63_sql(),
    "q74_passage_dedup": _q74_sql(),
    "q76_bigram_lm_nll": Q76_SQL,
    "q77_contamination_score": Q77_SQL,
    "q78_bm25_topk": Q78_SQL,
    "q95_bpe_token_budget": _q95_sql(),
    "q97_bpe_pack_sequences": _q97_sql(),
    "q99_tfidf_cosine_knn": Q99_SQL,
    "q102_tfidf_reference_screen": Q102_SQL,
    "q110_tfidf_banded_knn": Q110_SQL,
    "q111_tfidf_banded_screen": Q111_SQL,
    "q112_tfidf_banded_knn_dialed": Q112_SQL,
    "q105_decontaminate_spans": Q105_SQL,
}
