"""Text-analysis operators over the ``documents`` table.

LLM-training-data pipeline surface (BASELINE.json north star): token
counting, quality scoring, language ID, document fingerprinting. All
JVM-side expressions (regex/hash built-ins) — zero Python in the hot path,
so a 100 TB corpus scans at full whole-stage-codegen speed with filters
pushed to parquet.

Regex note: Spark compiles Java regex, DuckDB compiles RE2. Every pattern
used here (``\\s+``, ``\\b...\\b`` word alternations, literal classes) is in
the common subset with identical semantics — verified by the oracle harness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, pair_sides, register
from live_data_spark.session import local_frame

# ---------------------------------------------------------------------------
# Token counting — whitespace tokenization + a BPE-ish subword estimate.
# ---------------------------------------------------------------------------

_TOKEN_ORACLE = r"""
SELECT
  doc_id,
  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
  cast(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
  length(text) AS n_chars_actual
FROM documents
"""


@register("text_token_count", oracle=_TOKEN_ORACLE, tags=("text",))
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + chars/4 BPE token estimate per document.

    The chars/4 heuristic is the standard quick estimate for byte-pair
    encodings on English-like text; exact BPE needs the tokenizer's merge
    table (out of scope — no tokenizer libs in the container).
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("est_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


# ---------------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword / repetition signals.
# ---------------------------------------------------------------------------

_STOPWORDS = "the|a|of|and|is|in|to|for|on|with"

_QUALITY_ORACLE = rf"""
WITH scored AS (
  SELECT
    doc_id,
    length(text) AS n_chars_actual,
    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
    len(regexp_extract_all(text, '\b({_STOPWORDS})\b')) AS n_stopwords,
    length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT
  doc_id,
  n_tokens,
  round(n_chars_actual / n_tokens, 4) AS avg_token_len,
  round(n_stopwords / n_tokens, 4) AS stopword_ratio,
  round(CASE WHEN n_chars_actual > 0 THEN n_punct / n_chars_actual END, 4) AS punct_ratio,
  CASE WHEN n_tokens >= 20
        AND n_stopwords / n_tokens BETWEEN 0.01 AND 0.5
        AND n_chars_actual > 0 AND n_punct / n_chars_actual < 0.2
       THEN 1 ELSE 0 END AS quality_pass
FROM scored
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text",))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality signals (C4/Gopher-style rules).

    Emits the standard cheap filters: token count, mean token length,
    stopword ratio, punctuation density, and a composite pass flag.
    Everything is a narrow projection — quality filtering of a 100 TB
    corpus is a single scan with the pass-flag predicate pushed down
    when materialized as a partition column.
    """
    d = load(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    n_stop = F.regexp_count("text", F.lit(rf"\b({_STOPWORDS})\b")).cast("double")
    n_punct = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("double")
    scored = d.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
    )
    # empty docs: n_chars_actual = 0 → punct_ratio is NULL, not a
    # DIVIDE_BY_ZERO job abort (ANSI mode; found by the null-robustness
    # test). n_tokens can't be 0 (split of "" is [""]), so the token
    # ratios need no guard. A NULL ratio fails the BETWEEN/< predicates,
    # so empty docs land quality_pass = 0 — the right verdict anyway.
    punct_ratio = F.when(
        F.col("n_chars_actual") > 0, F.col("n_punct") / F.col("n_chars_actual")
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("n_chars_actual") / F.col("n_tokens"), 4).alias("avg_token_len"),
        F.round(F.col("n_stopwords") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.when(
            (F.col("n_tokens") >= 20)
            & (F.col("n_stopwords") / F.col("n_tokens")).between(0.01, 0.5)
            & (punct_ratio < 0.2),
            1,
        )
        .otherwise(0)
        .alias("quality_pass"),
    )


# ---------------------------------------------------------------------------
# Language ID — marker-word n-gram heuristic.
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, str] = {
    "en": "the|and|of|is|with",
    "de": "der|die|das|und|ist",
    "es": "el|la|los|que|es",
    "fr": "le|la|les|est|dans",
}


def _marker_count(col: Column | str, pattern: str) -> Column:
    return F.regexp_count(col, F.lit(rf"\b({pattern})\b"))


_LANGID_ORACLE = rf"""
WITH counts AS (
  SELECT doc_id, lang AS labeled_lang,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["en"]})\b')) AS c_en,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["de"]})\b')) AS c_de,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["es"]})\b')) AS c_es,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["fr"]})\b')) AS c_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
  CASE
    WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
    WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
    WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
    WHEN c_es >= c_fr THEN 'es'
    ELSE 'fr'
  END AS detected_lang
FROM counts
"""


@register("text_langid", oracle=_LANGID_ORACLE, tags=("text",))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification (n-gram heuristic).

    Counts per-language stopword markers and picks the argmax with a
    deterministic priority tie-break (en > de > es > fr). The testdata's
    ``lang`` label is synthetic (texts are identical word-salad across
    labels) so the label is carried through for accuracy inspection, not
    used. Real pipelines swap the marker table for a trained model via a
    Pandas UDF — the query shape (scan → classify → group) is identical.
    """
    d = load(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[_marker_count("text", pat).alias(f"c_{lang}") for lang, pat in _LANG_MARKERS.items()],
    )
    c = {lang: F.col(f"c_{lang}") for lang in _LANG_MARKERS}
    detected = (
        F.when((c["en"] == 0) & (c["de"] == 0) & (c["es"] == 0) & (c["fr"] == 0), "und")
        .when((c["en"] >= c["de"]) & (c["en"] >= c["es"]) & (c["en"] >= c["fr"]), "en")
        .when((c["de"] >= c["es"]) & (c["de"] >= c["fr"]), "de")
        .when(c["es"] >= c["fr"], "es")
        .otherwise("fr")
    )
    return counts.select("doc_id", "labeled_lang", detected.alias("detected_lang"))


_CONFUSION_ORACLE = rf"""
WITH counts AS (
  SELECT doc_id, lang AS labeled_lang,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["en"]})\b')) AS c_en,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["de"]})\b')) AS c_de,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["es"]})\b')) AS c_es,
    len(regexp_extract_all(text, '\b({_LANG_MARKERS["fr"]})\b')) AS c_fr
  FROM documents
), detected AS (
  SELECT labeled_lang,
    CASE
      WHEN c_en = 0 AND c_de = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
      WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
      WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
      WHEN c_es >= c_fr THEN 'es'
      ELSE 'fr'
    END AS detected_lang
  FROM counts
)
SELECT labeled_lang, detected_lang, count(*) AS n_docs,
       round(count(*) / cast(sum(count(*)) OVER (PARTITION BY labeled_lang) AS DOUBLE), 4)
         AS share_of_label
FROM detected
GROUP BY labeled_lang, detected_lang
"""


@register("langid_confusion", oracle=_CONFUSION_ORACLE, tags=("text", "quality"))
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared label × detected language
    with within-label shares — the audit that tells you whether a lang
    partition of the corpus can be trusted before per-language sampling
    rates (stratified_sample_by_lang, training_mix_plan) rely on it.

    Reuses text_langid's classifier frame, so the scan and the marker
    regexes are written once; the matrix is one hash aggregate over at
    most |langs|² rows plus a window over that already-tiny frame.
    """
    detected = text_langid(spark, sf_dir).select("labeled_lang", "detected_lang")
    cells = detected.groupBy("labeled_lang", "detected_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql import Window

    per_label = Window.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "detected_lang",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(per_label).cast("double"), 4
        ).alias("share_of_label"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting.
# ---------------------------------------------------------------------------


def normalized_text(col: Column | str = "text") -> Column:
    """Canonical normalization used by every dedup operator: lowercase,
    collapse whitespace, trim. Keep this the single source of truth so
    exact-dedup, MinHash, and SimHash agree on the input space.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def adjacent_pairs(arr: Column | str) -> Column:
    """1-based index ``i`` of each adjacent (i, i+1) pair of an array
    column, for ``explode``: a cheap int ``sequence``, empty for arrays
    shorter than 2 (``sequence(1, 0)`` is DESCENDING in Spark, the ANSI
    element_at abort; guard like ``shingle_rows``). Callers assemble the
    pair per exploded row with codegen'd ``element_at``."""
    return F.when(F.size(arr) >= 2, F.sequence(F.lit(1), F.size(arr) - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )


def fingerprint(col: Column | str = "text") -> Column:
    """MD5 content fingerprint over normalized text — the engine-agnostic
    exact-dup key (md5 is bit-identical everywhere, unlike murmur3).
    """
    return F.md5(F.encode(normalized_text(col), "UTF-8"))


_FINGERPRINT_ORACLE = r"""
SELECT
  doc_id,
  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
  length(text) AS n_chars_actual
FROM documents
"""


@register("text_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("text", "dedup"))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 over normalized text) per document.

    The building block for exact dedup at scale: fingerprints are tiny,
    so the dedup shuffle moves 16-byte keys instead of documents.
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction — top-3 terms per document.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf,
         round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
  FROM tf t JOIN df d USING (term), n
)
SELECT doc_id, term, tf, tfidf, rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, tf DESC, term
  ) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""


@register("text_tfidf_topterms", oracle=_TFIDF_ORACLE, tags=("text", "window"))
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (keyword extraction).

    The corpus-statistics pattern: term frequency per (doc, term), then
    document frequency per term — the df side is an aggregate OF the tf
    aggregate, so the term-keyed shuffle is reused and df rows are one
    per distinct term. n_docs rides along as a broadcast 1-row aggregate
    (no driver collect). Smoothed idf = ln((N+1)/(df+1)), so corpus-wide
    terms get ~0 and never beat content words. Per-doc top-3 is a
    row_number window over the doc key with a full deterministic
    tie-break (score, tf, term).

    Scale note: the tf⋈df join key is the term — Zipf-skewed, but both
    sides are post-aggregation (one row per term on the build side), so
    the hot keys carry few rows; salt only if df itself must come from
    raw token rows.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# Repetition ratio — boilerplate/spam signal from n-gram redundancy.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 2, 0)),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
  FROM toks
)
SELECT doc_id,
       cast(len(grams) AS BIGINT) AS n_grams,
       cast(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round(1.0 - len(list_distinct(grams)) / len(grams), 4) AS rep_ratio
FROM g WHERE len(grams) > 0
"""


@register("text_repetition_ratio", oracle=_REPETITION_ORACLE, tags=("text", "quality"))
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-gram repetition ratio (1 − distinct/total grams) — the
    standard boilerplate/spam quality gate (high ratio ⇒ the document
    repeats itself; MassiveText/Gopher-style rule).

    Rides the SAME exploded-shingle subtree as the dedup ladder
    (operators/dedup.py shingle_rows, distinct=False) so at 100 TB the
    quality gate and the dedup signatures share one corpus scan +
    explode; the aggregate is count + count-distinct per doc — map-side
    partials on the doc key, no arrays materialized.
    """
    from live_data_spark.operators.dedup import shingle_rows  # no cycle at call time

    ex = shingle_rows(spark, sf_dir, k=3, distinct=False)
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("s").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_grams").cast("double"), 4
            ).alias("rep_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrub — regex redaction counts (email / phone / SSN-like ids).
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9() -]{7,}[0-9]"
_PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"

_PII_ORACLE = rf"""
WITH hits AS (
  SELECT source,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
         len(regexp_extract_all(text, '{_PII_SSN}')) AS n_ssn
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       cast(sum(n_email) AS BIGINT) AS email_hits,
       cast(sum(n_phone) AS BIGINT) AS phone_hits,
       cast(sum(n_ssn) AS BIGINT) AS ssn_hits,
       cast(count(*) FILTER (WHERE n_email + n_phone + n_ssn > 0) AS BIGINT) AS docs_with_pii
FROM hits GROUP BY source
"""


def pii_redact(col: Column | str) -> Column:
    """Redact email/phone/SSN-like spans with typed placeholders.

    Pure JVM ``regexp_replace`` chain — the transformation the stats
    query audits; applied to a 100 TB corpus it is a map-only pass.
    Most-specific pattern first: the digits-and-dashes of an SSN also
    satisfy the looser phone pattern, so [ID] must claim them before
    [PHONE] can.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _PII_SSN, "[ID]")
    c = F.regexp_replace(c, _PII_EMAIL, "[EMAIL]")
    return F.regexp_replace(c, _PII_PHONE, "[PHONE]")


@register("text_pii_scrub_stats", oracle=_PII_ORACLE, tags=("text", "pii"))
def text_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII hit counts for the redaction pass (``pii_redact``).

    The synthetic corpus contains no PII, so every count is legitimately
    zero here — the patterns themselves are proven on planted PII in
    tests/test_text_pipeline.py. Counts aggregate map-side; the integer
    sums cast to BIGINT on the oracle side (DuckDB types sum(int) as
    HUGEINT — the r01 hash-artifact class).
    """
    d = load(spark, sf_dir, "documents")
    hits = d.select(
        "source",
        F.regexp_count("text", F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count("text", F.lit(_PII_PHONE)).alias("n_phone"),
        F.regexp_count("text", F.lit(_PII_SSN)).alias("n_ssn"),
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("email_hits"),
        F.sum("n_phone").cast("bigint").alias("phone_hits"),
        F.sum("n_ssn").cast("bigint").alias("ssn_hits"),
        F.count(F.when(F.col("n_email") + F.col("n_phone") + F.col("n_ssn") > 0, 1))
        .cast("bigint")
        .alias("docs_with_pii"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling — per-language rates, deterministic buckets.
# ---------------------------------------------------------------------------

_STRAT_ORACLE = """
SELECT doc_id, lang, source
FROM documents
WHERE (doc_id % 100003) * 2654435761 % 100
      < CASE lang WHEN 'en' THEN 10 ELSE 40 END
"""


@register("stratified_sample_by_lang", oracle=_STRAT_ORACLE, tags=("text", "sampling"))
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10% of English, 40% of every other
    language — the training-mix downsampling step (rebalance a corpus
    dominated by one language) as a reproducible, engine-portable filter.

    Same Knuth-hash bucket arithmetic as ``deterministic_sample``
    (functions/dialect.py): a map-only predicate, no shuffle, no RNG
    state — re-running over a grown corpus keeps previously selected
    docs selected (stable ids ⇒ stable sample), which is what makes the
    mix reproducible across pipeline runs at 100 TB.
    """
    d = load(spark, sf_dir, "documents")
    bucket = F.pmod(F.pmod(F.col("doc_id"), F.lit(100003)) * F.lit(2654435761), F.lit(100))
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(40))
    return d.where(bucket < rate).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Train/eval contamination — n-gram overlap against a held-out split.
# ---------------------------------------------------------------------------

_CONTAM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), g AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w) - 4, 0)),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, unnest(grams) AS s FROM g
)
SELECT t.doc_id AS eval_doc_id, tr.doc_id AS train_doc_id,
       count(*) AS n_shared_5grams
FROM ex t JOIN ex tr ON t.s = tr.s
WHERE t.doc_id % 97 = 0 AND tr.doc_id % 97 <> 0
GROUP BY 1, 2
HAVING count(*) >= 1
"""


@register("contamination_ngram_overlap", oracle=_CONTAM_ORACLE, tags=("text", "dedup", "eval"))
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: 5-gram overlap between a held-out
    split (doc_id % 97 == 0 — stands in for the real benchmark set) and
    the training split; any pair sharing a distinct 5-gram is flagged
    (the strict decontamination posture — raise the floor when the
    corpus has enough natural overlap for ≥1 to be noise).

    The decontamination step every training pipeline needs before
    shipping an eval: an inverted-index semi-join — explode distinct
    5-grams, join eval-side against train-side on the gram, count per
    pair. The eval side is tiny (1/97 of the corpus) so at scale it
    BROADCASTS and the train side never shuffles; flagged pairs then
    drive either eval-row removal or train-doc exclusion.
    """
    from live_data_spark.operators.dedup import shingle_rows  # no cycle at call time

    ex = shingle_rows(spark, sf_dir, k=5)
    ev = ex.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "s"
    )
    tr = ex.where(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc_id"), "s"
    )
    return (
        F.broadcast(ev)
        .join(tr, "s")
        .groupBy("eval_doc_id", "train_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_5grams"))
        .where(F.col("n_shared_5grams") >= 1)
    )


# ---------------------------------------------------------------------------
# Training-mix planner — per-language token budgets → sampling rates.
# ---------------------------------------------------------------------------

_MIX_ORACLE = r"""
WITH per_doc AS (
  SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), per_lang AS (
  SELECT lang, count(*) AS n_docs,
         cast(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM per_doc GROUP BY lang
), budget AS (
  SELECT cast(floor(0.5 * sum(total_tokens)) AS BIGINT) AS budget_tokens FROM per_lang
)
SELECT lang, n_docs, total_tokens,
       cast(floor(budget_tokens * CASE lang WHEN 'en' THEN 0.3 ELSE 0.175 END) AS BIGINT)
         AS target_tokens,
       round(least(1.0,
         floor(budget_tokens * CASE lang WHEN 'en' THEN 0.3 ELSE 0.175 END)
         / total_tokens), 4) AS sample_rate
FROM per_lang CROSS JOIN budget
"""


@register("training_mix_plan", oracle=_MIX_ORACLE, tags=("text", "sampling", "pipeline"))
def training_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix planning: given a target language mix (30% en,
    17.5% each other language) and a training budget of half the corpus
    tokens, derive each language's token target and document sampling
    rate — the arithmetic that turns corpus stats into the
    ``stratified_sample_by_lang`` rates.

    Plan: ONE corpus scan → per-lang aggregate (map-side partials) → the
    global budget as an unpartitioned window over the per-lang frame.
    The window runs on |languages| rows (tiny by construction — language
    is a low-cardinality stratum), so the single-partition window stage
    is free and the plan never scans documents twice (a separate
    1-row budget aggregate loses exchange reuse: column pruning makes
    the two branches' partial aggregates differ — measured, see
    tests/test_plans.py). Arithmetic is integer/double with floor/least
    applied identically on both engines; integer sums cast to BIGINT.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    per_doc = d.select("lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"))
    per_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    w = Window.partitionBy()  # all |languages| rows — tiny post-aggregate frame
    budget = F.floor(0.5 * F.sum("total_tokens").over(w)).cast("bigint")
    share = F.when(F.col("lang") == "en", F.lit(0.3)).otherwise(F.lit(0.175))
    target = F.floor(budget.cast("double") * share).cast("bigint")
    return per_lang.select(
        "lang",
        "n_docs",
        "total_tokens",
        target.alias("target_tokens"),
        F.round(
            F.least(F.lit(1.0), target.cast("double") / F.col("total_tokens")), 4
        ).alias("sample_rate"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal — zlib redundancy probe.
# ---------------------------------------------------------------------------


@register("text_compression_ratio", oracle=None, tags=("text", "quality"))
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    MassiveText-style redundancy probe: highly compressible text is
    repetitive boilerplate, incompressible text is noise/binary; both
    tails get filtered. Complements the n-gram repetition ratio with a
    model-free whole-document signal.

    The JVM has no built-in compressor expression, so this is one of
    the few legitimately-Python operators: an Arrow-batched pandas_udf
    (zlib level 6 — deterministic output for a given input across
    platforms, so the test pins EXACT equality against direct zlib).
    Map-only; rows-only for the driver (DuckDB has no zlib either).
    """
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ratio(texts):
        def one(t):
            # null text → NULL ratio; empty text has no meaningful ratio
            # either (zlib emits a ~8-byte header for 0 bytes in). Guarding
            # here keeps one bad row from killing a 100 TB scan.
            if t is None or len(t) == 0:
                return None
            raw = t.encode("utf-8")
            return len(zlib.compress(raw, 6)) / len(raw)

        return pd.Series([one(t) for t in texts], dtype="float64")

    ratio_udf = pandas_udf(_ratio, "double")
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio_udf(F.col("text")), 4).alias("compression_ratio"),
    )


# ---------------------------------------------------------------------------
# Zipf fit — rank-frequency power-law slope of the corpus vocabulary.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000

_ZIPF_ORACLE = rf"""
WITH terms AS (
  SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS f FROM terms GROUP BY term
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
  FROM freq
  ORDER BY f DESC, term LIMIT {_ZIPF_TOP}
), logs AS (
  SELECT ln(r) AS x, ln(f) AS y FROM ranked
)
SELECT count(*) AS n_terms,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0.0), 4) AS zipf_slope,
       round(pow(count(*) * sum(x * y) - sum(x) * sum(y), 2)
             / nullif((count(*) * sum(x * x) - sum(x) * sum(x))
                * (count(*) * sum(y * y) - sum(y) * sum(y)), 0.0), 4) AS r_squared
FROM logs
"""


@register("corpus_zipf_slope", oracle=_ZIPF_ORACLE, tags=("text", "stats"))
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the top-1000 vocabulary: least-squares
    slope of log(freq) vs log(rank) plus r² — natural language sits
    near slope −1; word-salad or template corpora drift away, so this
    is a one-number corpus-health probe (and a drift alarm between
    ingests when tracked per batch).

    One term-frequency aggregate (the only pass over documents), a
    top-1000 TakeOrdered with a total order (freq desc, term), then the
    closed-form regression as a 1-row aggregate over 1000 log pairs.
    ``ln`` last-ulp differences between libm implementations are ~10
    orders below the 4-decimal rounding after the 1000-term sums.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    terms = d.select(
        F.explode(F.split(normalized_text("text"), " ")).alias("term")
    )
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    ranked = (
        freq.orderBy(F.col("f").desc(), "term")
        .limit(_ZIPF_TOP)
        .select(
            F.ln(F.row_number().over(Window.orderBy(F.col("f").desc(), "term"))).alias("x"),
            F.ln("f").alias("y"),
        )
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx, syy = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x")), F.sum(
        F.col("y") * F.col("y")
    )
    # degenerate corpora (n < 2 ranked terms, or every frequency equal →
    # zero y-variance) have no regression: NULL, not DIVIDE_BY_ZERO
    # (found by the null-robustness probe; the oracle carries the same
    # NULLIF guards)
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return ranked.agg(
        n.alias("n_terms"),
        F.round((n * sxy - sx * sy) / F.nullif(var_x, F.lit(0.0)), 4).alias("zipf_slope"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / F.nullif(var_x * var_y, F.lit(0.0)),
            4,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal — the in-corpus perplexity proxy.
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM toks
), bi AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx
), bc AS (
  SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2
), uc AS (
  SELECT w1, count(*) AS cu FROM bi GROUP BY 1
), v AS (
  SELECT count(DISTINCT x) AS nv FROM (SELECT unnest(w) AS x FROM toks)
), scored AS (
  SELECT b.doc_id,
         cast(floor(ln((bc.cb + 1) / cast(uc.cu + v.nv AS DOUBLE)) * 100000000 + 0.5)
              AS BIGINT) AS q
  FROM bi b
  JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
  JOIN uc ON uc.w1 = b.w1
  CROSS JOIN v
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(-(sum(q) / 100000000.0) / count(*), 4) AS mean_surprisal
FROM scored GROUP BY doc_id
"""


@register("text_bigram_surprisal", oracle=_SURPRISAL_ORACLE, tags=("text", "quality", "lm"))
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus' own add-one-
    smoothed bigram model: −(1/n)·Σ ln P(w_i | w_{i−1}) — the perplexity
    proxy every quality-filtering recipe ranks on (CCNet/Gopher use a
    trained LM; the in-corpus bigram model is the dependency-free tier
    that needs no model artifact). Template-like repetitive docs score
    low, token-salad docs score high; both tails are filter candidates.

    Plan: bigram rows via the integer-sequence explode (same codegen
    shape as shingle_rows), then bigram and context counts as two
    aggregates over that one exploded frame, vocab as a 1-row distinct
    scalar, and one join back. The count tables are Zipf-shaped but the
    join is one-row-per-bigram-token — AQE skew splitting handles the
    hot head. Engine determinism: each ln() is quantized to 1e-8 by
    floor(x·1e8 + 0.5) INTEGER arithmetic before the per-doc sum
    (identical doubles → identical integers on both engines — the
    SKILL.md half-boundary rule), so the summed value is exact and
    order-free.
    """
    d = load(spark, sf_dir, "documents")
    w = F.split(normalized_text("text"), " ")
    bi = (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(adjacent_pairs("w")).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("w", F.col("i")).alias("w1"),
            F.element_at("w", F.col("i") + 1).alias("w2"),
        )
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    uc = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = (
        d.select(F.explode(w).alias("x")).agg(F.countDistinct("x").alias("nv"))
    )
    logp = F.ln((F.col("cb") + 1) / (F.col("cu") + F.col("nv")).cast("double"))
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(logp * 100000000 + 0.5).cast("bigint").alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-(F.sum("q") / 100000000.0) / F.count(F.lit(1)), 4).alias("mean_surprisal"),
    )


# ---------------------------------------------------------------------------
# BPE-ish pre-tokenization — regex token counts, not chars/4 estimates.
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, RE2-safe (no lookahead, which DuckDB's RE2
# lacks): contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs, whitespace runs. Alternation order matters and is
# identical on both engines (leftmost-first semantics verified equal).
_PRETOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+|\s+"

_PRETOKEN_ORACLE = rf"""
WITH m AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_extract_all(lower(text), '{_PRETOKEN_RE.replace("'", "''")}'),
                     x -> NOT regexp_full_match(x, '\s+')) AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_pretokens,
       CASE WHEN len(toks) > 0
            THEN round(n_chars / cast(len(toks) AS DOUBLE), 4) END AS chars_per_token
FROM m
"""


@register("text_pretokenize_count", oracle=_PRETOKEN_ORACLE, tags=("text", "tokenizer"))
def text_pretokenize_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under a GPT-2-style pre-tokenizer regex —
    the BPE-ish tier between whitespace splitting and a real merge-table
    tokenizer (which needs artifacts this container doesn't ship; see
    ``text_token_count`` for the chars/4 estimate). Contractions, digit
    runs, and punctuation runs split the way byte-pair pre-tokenization
    does, so budget math (packing, source caps, mix planning) lands much
    closer to true BPE counts than whitespace does. chars-per-token is
    the packing planner's density signal.

    One regexp_extract_all per row — map-only, stays in codegen, no
    explode. The pattern is RE2-safe (DuckDB) AND Java-regex-identical
    (Spark): no lookahead, explicit classes only; cross-engine equality
    of match counts is exactly what the oracle hash verifies.
    """
    d = load(spark, sf_dir, "documents")
    # Column API, NOT F.expr: a double-quoted SQL literal goes through
    # Spark's string-escape processing, which eats the backslashes in
    # \s and silently runs a different pattern than the oracle.
    # The whitespace filter is a full \s+ match, not trim()!='': SQL trim
    # strips only spaces, so a tab/newline-run token would survive it.
    toks = F.filter(
        F.regexp_extract_all(F.lower("text"), F.lit(_PRETOKEN_RE), F.lit(0)),
        lambda x: ~x.rlike(r"^\s+$"),
    )
    n = F.size(toks).cast("bigint")
    # empty/null docs: NULL density, not DIVIDE_BY_ZERO (ANSI mode aborts
    # the whole job on one empty doc otherwise — found by the null-
    # robustness test; the oracle carries the same CASE guard)
    return d.select(
        "doc_id",
        n.alias("n_pretokens"),
        F.when(n > 0, F.round(F.length("text") / n.cast("double"), 4)).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints — rolling-hash document fingerprinting (MOSS).
# ---------------------------------------------------------------------------

WINNOW_K = 5  # char k-gram size
WINNOW_W = 4  # hashes per winnowing window

_WINNOW_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS txt FROM documents
), grams AS (
  SELECT doc_id,
         unnest(generate_series(1, greatest(length(txt) - {WINNOW_K} + 1, 0))) AS i,
         txt
  FROM t
), hashed AS (
  SELECT doc_id, i, substr(md5(substr(txt, i, {WINNOW_K})), 1, 8) AS h FROM grams
), mins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS mh
  FROM hashed
)
SELECT doc_id,
       count(*) AS n_grams,
       count(DISTINCT CASE WHEN i >= {WINNOW_W} THEN mh END) AS n_fingerprints,
       round(count(DISTINCT CASE WHEN i >= {WINNOW_W} THEN mh END)
             / cast(count(*) AS DOUBLE), 4) AS density
FROM mins GROUP BY doc_id
"""


@register("text_winnow_fingerprints", oracle=_WINNOW_ORACLE, tags=("text", "dedup", "fingerprint"))
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (the MOSS
    scheme): hash every char 5-gram, keep the minimum of each sliding
    window of 4 hashes, dedupe — the selected minima are the document's
    fingerprint set, with the winnowing guarantee that any shared
    substring of length ≥ k+w−1 contributes at least one SHARED
    fingerprint. The per-doc profile here (fingerprint count + density)
    is the indexing-cost planner; the fingerprint set itself is what a
    plagiarism/overlap index would invert, complementing
    ``text_fingerprint``'s whole-doc hash (exact dup only) and the word
    3-gram rungs (word-boundary-sensitive).

    Engine-exact by construction: the "rolling hash" is
    substr(md5(gram), 1, 8) — identical hex STRINGS on both engines, and
    lexicographic min over hex equals numeric min, so no numeric-hash
    dialect is needed. The window min partitions by doc (never global);
    grams stay in codegen via the integer-sequence explode.
    """
    from live_data_spark.operators.dedup import spread

    d = spread(load(spark, sf_dir, "documents"))
    txt = normalized_text("text")
    grams = (
        d.select("doc_id", txt.alias("txt"))
        .select(
            "doc_id",
            "txt",
            F.explode(
                F.when(
                    F.length("txt") >= WINNOW_K,
                    F.sequence(F.lit(1), F.length("txt") - WINNOW_K + 1),
                ).otherwise(F.expr("array()").cast("array<int>"))
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.substring(
                F.md5(F.col("txt").substr(F.col("i"), F.lit(WINNOW_K))), 1, 8
            ).alias("h"),
        )
    )
    from pyspark.sql import Window as W

    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(WINNOW_W - 1), 0)
    mins = grams.select("doc_id", "i", F.min("h").over(win).alias("mh"))
    fp = F.countDistinct(F.when(F.col("i") >= WINNOW_W, F.col("mh")))
    return mins.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        fp.alias("n_fingerprints"),
        F.round(fp / F.count(F.lit(1)).cast("double"), 4).alias("density"),
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring — rank the corpus against a seed query.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "window", "hash")
BM25_TOP = 25

_BM25_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT cast(count(*) AS DOUBLE) AS n_docs, avg(cast(dl AS DOUBLE)) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT t.doc_id,
         floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
               * 100000000 + 0.5) AS q
  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id), stats s
)
SELECT doc_id,
       cast(count(*) AS INTEGER) AS n_query_terms,
       round(sum(q) / 100000000.0, 4) AS bm25
FROM scored GROUP BY doc_id
ORDER BY sum(q) DESC, doc_id
LIMIT {BM25_TOP}
"""


def bm25_per_doc(d: DataFrame) -> DataFrame:
    """(doc_id, n_query_terms, qs) — per-doc BM25 for BM25_QUERY, with
    each (doc, term) score quantized to a 1e-8 integer (``qs`` is the
    integer sum; divide by 1e8 for the float score). Shared by the pure
    lexical top-k below and the hybrid RRF fusion entry."""
    tok = d.select("doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        tok.where(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.ln((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tff = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * tff * 100000000 + 0.5).cast("bigint").alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_query_terms"),
        F.sum("q").alias("qs"),
    )


@register("text_bm25_topdocs", oracle=_BM25_ORACLE, tags=("text", "retrieval", "topk"))
def text_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k documents for a fixed seed query — the retrieval
    primitive behind seed-based curation ("find more docs like this
    benchmark/domain seed") that complements the embedding-side ANN
    ladder with a lexical rung. k1/b are the standard 1.2/0.75.

    Shape at scale: ONE explode of the corpus feeds both statistics —
    per-doc length (map-side-combined count) and per-(doc, query-term)
    tf (filter on the 3-term query BEFORE the group, so only matching
    tokens shuffle). df and the (N, avgdl) scalars are one-per-term /
    one-row aggregates that broadcast; the only doc-keyed join is
    tf ⋈ dl, both sides already keyed on doc_id. Top-k compiles to
    TakeOrderedAndProject — no global sort.

    Engine-exactness: ln feeds a cross-term sum and the top-k cut, so
    each (doc, term) score is quantized to an int with
    floor(x·1e8 + 0.5) on BOTH engines (the text_bigram_surprisal
    recipe) — the ordering and the 4-decimal output are integer-exact.
    """
    per_doc = bm25_per_doc(load(spark, sf_dir, "documents"))
    return (
        per_doc.orderBy(F.col("qs").desc(), "doc_id")
        .limit(BM25_TOP)
        .select(
            "doc_id",
            "n_query_terms",
            F.round(F.col("qs") / 100000000.0, 4).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# Unicode NFC audit — normalization-form hygiene for a mixed-source corpus.
# ---------------------------------------------------------------------------

_NFC_ORACLE = """
SELECT doc_id,
       cast(length(text) AS BIGINT) AS n_chars_raw,
       cast(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
       text = nfc_normalize(text) AS is_nfc
FROM documents
"""


@register("text_unicode_nfc", oracle=_NFC_ORACLE, tags=("text", "normalize"))
def text_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode NFC audit: raw vs NFC-normalized character
    counts and an is-normalized flag. Mixed-source corpora mix composed
    and decomposed forms of the same glyphs ("é" as one codepoint vs
    e+U+0301); every downstream exact-hash dedup, shingle, and tokenizer
    treats them as different text, so the canonicalization decision has
    to be explicit and measurable — this entry is the measurement.

    Spark has no built-in Unicode normalizer, so the normalization runs
    as an Arrow-batched pandas UDF over stdlib ``unicodedata`` — one
    Python pass per row batch, map-only, no shuffle (justification
    recorded for the plan-hygiene sweep; the oracle's utf8proc
    ``nfc_normalize`` and CPython's tables agree on the testdata and the
    accent/Hangul fixture cases pinned in tests). The UDF result is
    reused through a single projection so the normalization runs once.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    nfc_udf = pandas_udf(_nfc, "string")

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "text", nfc_udf(F.col("text")).alias("nfc")
    ).select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_raw"),
        F.length("nfc").cast("bigint").alias("n_chars_nfc"),
        (F.col("text") == F.col("nfc")).alias("is_nfc"),
    )


# ---------------------------------------------------------------------------
# HTML/markup strip audit — the first step of every web-scrape pipeline.
# ---------------------------------------------------------------------------

_HTML_TAG_RE = "<[^>]+>"
_HTML_ENTITY_RE = "&[a-zA-Z]+;|&#[0-9]+;"

_HTML_ORACLE = rf"""
SELECT doc_id,
       cast(len(regexp_extract_all(text, '{_HTML_TAG_RE}')) AS BIGINT) AS n_tags,
       cast(len(regexp_extract_all(text, '{_HTML_ENTITY_RE}')) AS BIGINT) AS n_entities,
       cast(length(trim(regexp_replace(regexp_replace(text, '{_HTML_TAG_RE}', ' ', 'g'),
                                       '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_stripped,
       round(CASE WHEN length(text) > 0
                  THEN 1.0 - length(trim(regexp_replace(regexp_replace(text, '{_HTML_TAG_RE}', ' ', 'g'),
                                                        '\s+', ' ', 'g'))) / cast(length(text) AS DOUBLE)
             END, 4) AS markup_frac
FROM documents
"""


@register("text_html_strip_stats", oracle=_HTML_ORACLE, tags=("text", "normalize", "pipeline"))
def text_html_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-strip audit: per-doc tag/entity counts, post-strip text
    length, and the markup fraction — the triage numbers a web-scrape
    corpus needs before text extraction (docs that are mostly markup go
    to a real DOM extractor or the bin; near-zero markup_frac means the
    text already came extracted).

    Deliberately the regex TIER: ``<[^>]+>`` + whitespace collapse is
    the cheap single-scan screen (both engines run the identical
    pattern — in Java-regex/RE2's common subset), not an HTML5 parser:
    script/style CONTENT, comments, entity decoding and malformed
    nesting need a real DOM parse, whose counts differ from these on
    exactly that markup. Map-only, whole-stage codegen, no shuffle; the
    markup_frac guard mirrors punct_ratio's empty-doc NULL.
    """
    d = load(spark, sf_dir, "documents")
    stripped_len = F.length(
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", _HTML_TAG_RE, " "), r"\s+", " "
            )
        )
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_HTML_TAG_RE)).cast("bigint").alias("n_tags"),
        F.regexp_count("text", F.lit(_HTML_ENTITY_RE)).cast("bigint").alias("n_entities"),
        stripped_len.cast("bigint").alias("n_chars_stripped"),
        F.round(
            F.when(
                F.length("text") > 0,
                1.0 - stripped_len / F.length("text").cast("double"),
            ),
            4,
        ).alias("markup_frac"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — tokenizer-budget sizing.
# ---------------------------------------------------------------------------

VOCAB_CUTOFFS = (5, 10, 20, 50)

_VOCAB_ORACLE = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS c FROM tok WHERE term <> '' GROUP BY term
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rn FROM tf
), tot AS (
  SELECT cast(sum(c) AS BIGINT) AS total, cast(count(*) AS BIGINT) AS n_terms FROM ranked
)
SELECT v.vocab_size,
       t.n_terms,
       cast(coalesce(sum(r.c) FILTER (WHERE r.rn <= v.vocab_size), 0) AS BIGINT) AS n_covered,
       round(coalesce(sum(r.c) FILTER (WHERE r.rn <= v.vocab_size), 0)
             / cast(t.total AS DOUBLE), 4) AS coverage
FROM (VALUES {', '.join(f'({n})' for n in VOCAB_CUTOFFS)}) AS v(vocab_size), ranked r, tot t
GROUP BY v.vocab_size, t.n_terms, t.total
"""


@register("corpus_vocab_coverage", oracle=_VOCAB_ORACLE, tags=("text", "tokenizer", "pipeline"))
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage of the top-N vocabulary, per candidate N — the
    number that sizes a tokenizer: coverage(N) is the fraction of all
    token OCCURRENCES a vocab of the N most frequent types explains, and
    the knee of this curve (plus the Zipf slope from
    ``corpus_zipf_slope``) is where vocab budgets get chosen. Cutoffs
    here fit the synthetic corpus's ~31-type vocabulary; a real run uses
    (8k, 32k, 64k, 128k) with the identical plan.

    Scale shape: one explode → (term, count) hash aggregate (map-side
    combined; |vocab| rows survive), then the global frequency rank via
    functions/ranks.py::with_global_rank — range-partitioned, no
    single-partition window even at web-corpus vocab sizes (10⁸ types).
    The cutoff fan-out is a 4-row broadcast crossJoin and the final
    rollup touches |vocab|·|cutoffs| rows. Integer counts throughout;
    the only float is the final 4-decimal share.
    """
    from live_data_spark.functions.ranks import with_global_rank

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(normalized_text("text"), " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = with_global_rank(
        tf, [F.col("c").desc(), F.col("term").asc()], rank_col="rn", total_col="n_terms"
    )
    cutoffs = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in VOCAB_CUTOFFS])).alias("vocab_size")
    )
    fanned = ranked.crossJoin(F.broadcast(cutoffs))
    return fanned.groupBy("vocab_size").agg(
        F.max("n_terms").cast("bigint").alias("n_terms"),
        F.coalesce(
            F.sum(F.when(F.col("rn") <= F.col("vocab_size"), F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_covered"),
        # within a cutoff group sum(c) spans ALL ranked terms = the total
        # occurrence count, so the share needs no separate total frame
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("rn") <= F.col("vocab_size"), F.col("c"))), F.lit(0)
            )
            / F.sum("c").cast("double"),
            4,
        ).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of BM25 and embedding cosine.
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard fusion constant (Cormack et al. 2009)
RRF_LIST = 50  # per-modality candidate list depth
RRF_TOP = 20
RRF_SEED_VEC = 0  # dense query: "more docs like this seed document"

_HYBRID_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
), stats AS (
  SELECT cast(count(*) AS DOUBLE) AS n_docs, avg(cast(dl AS DOUBLE)) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), perdoc AS (
  SELECT t.doc_id,
         sum(floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
               * 100000000 + 0.5)) AS qs
  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id), stats s
  GROUP BY t.doc_id
), lex AS (
  SELECT doc_id, cast(row_number() OVER (ORDER BY qs DESC, doc_id) AS INTEGER) AS lex_rank
  FROM perdoc ORDER BY qs DESC, doc_id LIMIT {RRF_LIST}
), dense0 AS (
  SELECT e.vec_id AS doc_id,
         floor(list_cosine_similarity(cast(e.embedding AS DOUBLE[]),
                                      cast(q.embedding AS DOUBLE[])) * 100000000 + 0.5) AS qc
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {RRF_SEED_VEC}) q
  WHERE e.vec_id <> {RRF_SEED_VEC}
), dense AS (
  SELECT doc_id, cast(row_number() OVER (ORDER BY qc DESC, doc_id) AS INTEGER) AS dense_rank
  FROM dense0 ORDER BY qc DESC, doc_id LIMIT {RRF_LIST}
)
SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
       round(coalesce(1.0 / ({RRF_K} + l.lex_rank), 0)
             + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0), 6) AS rrf
FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
ORDER BY coalesce(1.0 / ({RRF_K} + l.lex_rank), 0)
         + coalesce(1.0 / ({RRF_K} + d.dense_rank), 0) DESC,
         coalesce(l.doc_id, d.doc_id)
LIMIT {RRF_TOP}
"""


@register("hybrid_rrf_retrieval", oracle=_HYBRID_ORACLE, tags=("text", "retrieval", "similarity", "topk"))
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking (seed query) with
    the embedding-cosine ranking (seed vector = vec 0, modeling "the doc
    the query came from") by reciprocal-rank fusion —
    score = sum 1/(60+rank) over the two top-50 lists. RRF is the
    standard zero-tuning hybrid because it needs no score calibration
    between modalities: only RANKS cross the fusion, which also makes
    the whole entry engine-exact (BM25 ranks via the quantized-integer
    recipe; cosine quantized to 1e-8 before ranking so fp drift cannot
    flip near-ties; identical integer ranks give bit-identical doubles).

    Shape at scale: each modality ends in a TakeOrderedAndProject cut to
    its 50-row list; ranking windows then run over those 50-row frames,
    never over data. The fusion join is 50x50. The only data-sized work
    is the BM25 statistics pass and one corpus scan of embeddings — both
    map-side-combined aggregates/scans.
    """
    from pyspark.sql import Window

    from live_data_spark.operators.similarity import as_double, cosine

    d = load(spark, sf_dir, "documents")
    lex50 = bm25_per_doc(d).orderBy(F.col("qs").desc(), "doc_id").limit(RRF_LIST)
    # 50-row frame: the single-partition window is bounded, not data-sized
    lex = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("qs").desc(), "doc_id"))
        .alias("lex_rank"),
    )

    e = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), as_double("embedding").alias("emb")
    )
    q0 = e.where(F.col("doc_id") == RRF_SEED_VEC).select(F.col("emb").alias("qe"))
    dense50 = (
        e.where(F.col("doc_id") != RRF_SEED_VEC)
        .crossJoin(F.broadcast(q0))
        .select(
            "doc_id",
            F.floor(cosine(F.col("emb"), F.col("qe")) * 100000000 + 0.5)
            .cast("bigint")
            .alias("qc"),
        )
        .orderBy(F.col("qc").desc(), "doc_id")
        .limit(RRF_LIST)
    )
    dense = dense50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("qc").desc(), "doc_id"))
        .alias("dense_rank"),
    )

    rrf = F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (RRF_K + F.col("dense_rank")), F.lit(0.0)
    )
    return (
        lex.join(dense, "doc_id", "full")
        .select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf0"))
        .orderBy(F.col("rrf0").desc(), "doc_id")
        .limit(RRF_TOP)
        .select("doc_id", "lex_rank", "dense_rank", F.round("rrf0", 6).alias("rrf"))
    )


# ---------------------------------------------------------------------------
# Naive Bayes lang-ID — a TRAINED classifier, fully oracle-checkable.
# ---------------------------------------------------------------------------

_NB_Q = 100000000  # 1e-8 log-space quantization (the surprisal/BM25 recipe)

_NB_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, lang AS lang_true,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), tf AS (
  SELECT doc_id, lang_true, w, count(*) AS tf FROM tok GROUP BY 1, 2, 3
), priors AS (
  SELECT lang_true AS lang, count(DISTINCT doc_id) AS n_docs FROM tok GROUP BY 1
), n_total AS (SELECT sum(n_docs) AS n FROM priors),
wl AS (
  SELECT w, lang_true AS lang, count(*) AS c FROM tok GROUP BY 1, 2
), totals AS (
  SELECT lang, sum(c) AS t FROM wl GROUP BY 1
), vocab AS (SELECT count(DISTINCT w) AS v FROM tok),
grid AS (
  SELECT vw.w, p.lang, coalesce(wl.c, 0) AS c, t.t, vocab.v
  FROM (SELECT DISTINCT w FROM tok) vw
  CROSS JOIN priors p
  LEFT JOIN wl ON wl.w = vw.w AND wl.lang = p.lang
  JOIN totals t ON t.lang = p.lang
  CROSS JOIN vocab
), lik AS (
  SELECT w, lang,
         cast(floor(ln((c + 1) / cast(t + v AS DOUBLE)) * {_NB_Q} + 0.5) AS BIGINT) AS ql
  FROM grid
), prior_q AS (
  SELECT p.lang,
         cast(floor(ln(p.n_docs / cast(n.n AS DOUBLE)) * {_NB_Q} + 0.5) AS BIGINT) AS qp
  FROM priors p CROSS JOIN n_total n
), scored AS (
  SELECT tf.doc_id, tf.lang_true, l.lang,
         any_value(pq.qp) + sum(tf.tf * l.ql) AS score
  FROM tf JOIN lik l ON l.w = tf.w
  JOIN prior_q pq ON pq.lang = l.lang
  GROUP BY 1, 2, 3
), pred AS (
  SELECT doc_id, lang_true, lang AS lang_pred,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scored
)
SELECT lang_true, lang_pred, count(*) AS n_docs
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


@register("text_naive_bayes_langid", oracle=_NB_ORACLE, tags=("text", "classifier"))
def text_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED multinomial Naive Bayes language classifier, end to end
    inside the engine — and fully oracle-checkable, because NB training
    IS aggregation (class priors + Laplace-smoothed word-class counts)
    and prediction is an argmax over sums: quantize every log term to a
    1e-8 integer (the surprisal/BM25 recipe) and both engines compare
    identical exact integers. Output is the train-set confusion matrix
    (lang_true × lang_pred); the testdata's lang labels are independent
    of content (word-salad), so near-uniform rows here are the HONEST
    result — the entry verifies the machinery, the marker-based
    ``text_langid`` covers the semantic heuristic.

    Scale shape: three aggregates over the token stream (tf, priors,
    word-class counts — one explode feeds all, map-side combined), a
    vocab × langs likelihood grid (V·L rows — broadcast side of the
    scoring join), and one (doc, lang) aggregate; argmax is a per-doc
    window over L rows. Nothing is ever all-pairs; the model itself is
    the V·L grid, which at 100 TB is exactly the artifact you'd persist.
    """
    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(F.split(normalized_text("text"), " ")).alias("w"),
    )
    tf = tok.groupBy("doc_id", "lang_true", "w").agg(F.count(F.lit(1)).alias("tf"))
    priors = tok.groupBy(F.col("lang_true").alias("lang")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    wl = tok.groupBy("w", F.col("lang_true").alias("lang")).agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = wl.groupBy("lang").agg(F.sum("c").alias("t"))
    vocab = tok.agg(F.countDistinct("w").alias("v"))
    n_total = priors.agg(F.sum("n_docs").alias("n"))

    grid = (
        tok.select("w").distinct()
        .crossJoin(F.broadcast(priors.select("lang")))
        .join(wl, ["w", "lang"], "left")
        .join(F.broadcast(totals), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w",
            "lang",
            F.floor(
                F.ln(
                    (F.coalesce("c", F.lit(0)) + 1)
                    / (F.col("t") + F.col("v")).cast("double")
                )
                * _NB_Q
                + 0.5
            )
            .cast("bigint")
            .alias("ql"),
        )
    )
    prior_q = (
        priors.crossJoin(F.broadcast(n_total))
        .select(
            "lang",
            F.floor(F.ln(F.col("n_docs") / F.col("n").cast("double")) * _NB_Q + 0.5)
            .cast("bigint")
            .alias("qp"),
        )
    )
    scored = (
        tf.join(grid, "w")
        .join(F.broadcast(prior_q), "lang")
        .groupBy("doc_id", "lang_true", "lang")
        .agg((F.any_value("qp") + F.sum(F.col("tf") * F.col("ql"))).alias("score"))
    )
    from pyspark.sql import Window

    w_pred = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    return (
        scored.withColumn("rn", F.row_number().over(w_pred))
        .where(F.col("rn") == 1)
        .groupBy("lang_true", F.col("lang").alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Source vocabulary divergence — KL(source || corpus) outlier screen.
# ---------------------------------------------------------------------------

_KL_Q = 100000000

_SOURCE_KL_ORACLE = rf"""
WITH tok AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), sw AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2
), st AS (
  SELECT source, sum(c) AS t FROM sw GROUP BY 1
), cw AS (
  SELECT w, sum(c) AS cc FROM sw GROUP BY 1
), tot AS (SELECT sum(cc) AS ctot, count(*) AS v FROM cw),
grid AS (
  SELECT s.source, cw.w, coalesce(sw.c, 0) AS c, st.t, cw.cc, tot.ctot, tot.v
  FROM (SELECT DISTINCT source FROM sw) s
  CROSS JOIN cw
  LEFT JOIN sw ON sw.source = s.source AND sw.w = cw.w
  JOIN st ON st.source = s.source
  CROSS JOIN tot
), terms AS (
  SELECT source,
         cast(floor(((c + 1) / cast(t + v AS DOUBLE))
                    * ln(((c + 1) / cast(t + v AS DOUBLE))
                         / (cc / cast(ctot AS DOUBLE)))
                    * {_KL_Q} + 0.5) AS BIGINT) AS q,
         t, v
  FROM grid
)
SELECT source,
       cast(any_value(t) AS BIGINT) AS n_tokens,
       round(sum(q) / {_KL_Q}.0, 6) AS kl_vs_corpus
FROM terms GROUP BY source
"""


@register("source_vocab_divergence", oracle=_SOURCE_KL_ORACLE, tags=("text", "quality", "profiling"))
def source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source unigram distribution ‖ corpus distribution) per source —
    the vocabulary-outlier screen: a mirror in another language, a
    spam-heavy domain, or a template farm shows up as a source whose
    word distribution diverges from the corpus it claims to belong to.
    Source distributions are add-one smoothed over the global vocab (so
    absent words contribute finite mass); the corpus reference needs no
    smoothing (it contains every vocab word by construction). Each KL
    term quantizes to a 1e-8 integer before the order-free sum (the
    surprisal recipe).

    Shape: one token-stream aggregate feeds per-(source, word) counts,
    per-source totals, AND the corpus distribution; the sources × vocab
    grid is model-sized (the NB-likelihood pattern) and the output is
    source-count sized.
    """
    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select("source", F.explode(F.split(normalized_text("text"), " ")).alias("w"))
    sw = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    st = sw.groupBy("source").agg(F.sum("c").alias("t"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cc"))
    tot = cw.agg(F.sum("cc").alias("ctot"), F.count(F.lit(1)).alias("v"))
    grid = (
        sw.select("source").distinct()
        .crossJoin(F.broadcast(cw))
        .join(sw, ["source", "w"], "left")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
    )
    p = (F.coalesce("c", F.lit(0)) + 1) / (F.col("t") + F.col("v")).cast("double")
    q = F.col("cc") / F.col("ctot").cast("double")
    terms = grid.select(
        "source",
        "t",
        F.floor(p * F.ln(p / q) * _KL_Q + 0.5).cast("bigint").alias("q"),
    )
    return terms.groupBy("source").agg(
        F.any_value("t").alias("n_tokens"),
        F.round(F.sum("q") / float(_KL_Q), 6).alias("kl_vs_corpus"),
    )


# ---------------------------------------------------------------------------
# Collocations — adjacent-bigram PMI, the corpus-linguistics classic.
# ---------------------------------------------------------------------------

PMI_MIN_PAIR = 5  # noise floor: a collocation needs ≥5 occurrences
PMI_TOP = 50

_PMI_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), bi AS (
  SELECT s[1] AS w1, s[2] AS w2
  FROM (
    SELECT unnest(list_zip(list_slice(toks, 1, len(toks) - 1),
                           list_slice(toks, 2, len(toks)))) AS s
    FROM w
  )
), uni AS (
  SELECT unnest(toks) AS term FROM w
), nb AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2),
nu AS (SELECT term, count(*) AS n_term FROM uni GROUP BY 1),
tot AS (
  SELECT (SELECT cast(count(*) AS DOUBLE) FROM uni) AS t,
         (SELECT cast(count(*) AS DOUBLE) FROM bi) AS b
)
SELECT w1, w2, cast(n_pair AS BIGINT) AS n_pair,
       round(ln(n_pair * t * t / (b * a.n_term * c.n_term)), 6) AS pmi
FROM nb JOIN nu a ON a.term = nb.w1 JOIN nu c ON c.term = nb.w2
CROSS JOIN tot
WHERE n_pair >= {PMI_MIN_PAIR}
ORDER BY n_pair / cast(a.n_term * c.n_term AS DOUBLE) DESC, w1, w2
LIMIT {PMI_TOP}
"""


@register("text_collocation_pmi", oracle=_PMI_ORACLE, tags=("text", "ngram"))
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by pointwise mutual information
    — PMI = ln(p(w1w2) / (p(w1)·p(w2))) over bigram/unigram events, the
    standard "these words travel together" detector (phrase mining,
    tokenizer-merge candidates, template discovery in scraped corpora).

    Determinism discipline: the RANKING key is n_pair/(n_a·n_b) — a
    single IEEE division of exact integer products (engine-identical;
    the constant T²/B factor cannot reorder) — while the displayed PMI
    takes the ln only per OUTPUT row, rounded to 6 (libm-vs-JVM last-ulp
    drift disappears in the rounding; it never touches the order).

    Plan: one explode to bigrams via zip_with over two in-plan slices
    (no posexplode/index shuffle), vocab-bounded unigram and bigram
    aggregates, two broadcast joins of the unigram counts, 1-row totals
    scalar. Nothing corpus-sized shuffles except the term aggregates
    themselves.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(F.split(normalized_text("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("term"))
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    nb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    nu = uni.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    tot = uni.agg(F.count(F.lit(1)).cast("double").alias("t")).crossJoin(
        bi.agg(F.count(F.lit(1)).cast("double").alias("b"))
    )
    scored = (
        nb.where(F.col("n_pair") >= PMI_MIN_PAIR)
        .join(F.broadcast(nu.withColumnRenamed("term", "w1").withColumnRenamed("n_term", "na")), "w1")
        .join(F.broadcast(nu.withColumnRenamed("term", "w2").withColumnRenamed("n_term", "nc")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    ratio = F.col("n_pair") / (F.col("na") * F.col("nc")).cast("double")
    return (
        scored.orderBy(ratio.desc(), "w1", "w2")
        .limit(PMI_TOP)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.round(
                F.ln(
                    F.col("n_pair") * F.col("t") * F.col("t")
                    / (F.col("b") * F.col("na") * F.col("nc"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary growth — the Heaps-law curve, bucketed for scale.
# ---------------------------------------------------------------------------

VOCAB_GROWTH_BUCKETS = 20

_VOCAB_GROWTH_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), mx AS (SELECT max(doc_id) AS m FROM w),
tb AS (
  SELECT cast(floor(doc_id * {VOCAB_GROWTH_BUCKETS} / (m + 1)) AS INTEGER) AS bucket,
         count(*) AS n_tokens
  FROM w CROSS JOIN mx GROUP BY 1
), fb AS (
  SELECT cast(floor(first_doc * {VOCAB_GROWTH_BUCKETS} / (m + 1)) AS INTEGER) AS bucket,
         count(*) AS n_new_terms
  FROM (SELECT term, min(doc_id) AS first_doc FROM w GROUP BY term)
  CROSS JOIN mx GROUP BY 1
)
SELECT tb.bucket,
       cast(sum(tb.n_tokens) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_tokens,
       cast(sum(coalesce(fb.n_new_terms, 0)) OVER (ORDER BY tb.bucket) AS BIGINT) AS cum_vocab
FROM tb LEFT JOIN fb ON fb.bucket = tb.bucket
"""


@register("text_vocab_growth", oracle=_VOCAB_GROWTH_ORACLE, tags=("text", "stats"))
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct vocabulary
    vs cumulative tokens at 20 corpus checkpoints (doc_id order) — the
    sub-linearity diagnostic behind "is this corpus still contributing
    new vocabulary, or are we re-crawling the same material?" (a curve
    that flattens early says more data buys no lexical novelty; one that
    never bends says the source is noise/IDs).

    Cumulative-distinct is computed WITHOUT any corpus-sized window: a
    term contributes vocabulary exactly at its min(doc_id) bucket, so
    one term aggregate (vocab-bounded) + one per-bucket count + a
    running sum over the 20-row bucket frame reproduce the curve
    exactly. The doc_id→bucket map rides a 1-row max scalar.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    w = d.select("doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term"))
    mx = w.agg(F.max("doc_id").alias("m"))
    bucket_of = lambda c: F.floor(  # noqa: E731
        F.col(c) * VOCAB_GROWTH_BUCKETS / (F.col("m") + 1)
    ).cast("int")
    tb = (
        w.crossJoin(F.broadcast(mx))
        .groupBy(bucket_of("doc_id").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    fb = (
        w.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(mx))
        .groupBy(bucket_of("first_doc").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_new_terms"))
    )
    ws = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        tb.join(F.broadcast(fb), "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(ws).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("n_new_terms", F.lit(0))).over(ws).cast("bigint").alias("cum_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# Term burstiness — Fano factor of per-doc counts (zeros included).
# ---------------------------------------------------------------------------

BURST_MIN_DF = 20
BURST_TOP = 50

_BURST_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM w
), percount AS (
  SELECT term, doc_id, count(*) AS c FROM w GROUP BY 1, 2
), stats AS (
  SELECT term, count(*) AS df, sum(c) AS s1, sum(c * c) AS s2
  FROM percount GROUP BY term
)
SELECT term, cast(df AS BIGINT) AS df, cast(s1 AS BIGINT) AS total_count,
       round((s2 * n - s1 * s1) / cast(n * s1 AS DOUBLE), 6) AS fano
FROM stats CROSS JOIN nd
WHERE df >= {BURST_MIN_DF}
ORDER BY (s2 * n - s1 * s1) / cast(n * s1 AS DOUBLE) DESC, term
LIMIT {BURST_TOP}
"""


@register("text_term_burstiness", oracle=_BURST_ORACLE, tags=("text", "stats"))
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 burstiest terms by Fano factor (variance-to-mean ratio of
    per-doc counts, zero docs included): ≈1 means Poisson background
    vocabulary; ≫1 means the term clumps into few documents — topical/
    template words, boilerplate markers, and crawl artifacts all surface
    here, which is why burstiness is a classic keyword/boilerplate
    signal that pure frequency misses.

    Zeros never materialize: with Σc and Σc² from occurrence rows and
    the doc count N as a 1-row scalar, population variance over all N
    docs is (Σc²·N − (Σc)²)/N² in closed form. Both the ranking key and
    the emitted fano are ONE IEEE division of exact integer products —
    engine-identical, no transcendentals, no drift. Shuffles are
    (term, doc) then term — both vocabulary-bounded.
    """
    d = load(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    w = d.select("doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term"))
    nd = w.agg(F.countDistinct("doc_id").alias("n"))
    percount = w.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    stats = percount.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    fano = (F.col("s2") * F.col("n") - F.col("s1") * F.col("s1")) / (
        F.col("n") * F.col("s1")
    ).cast("double")
    return (
        stats.where(F.col("df") >= BURST_MIN_DF)
        .crossJoin(F.broadcast(nd))
        .orderBy(fano.desc(), "term")
        .limit(BURST_TOP)
        .select(
            "term",
            F.col("df").cast("bigint").alias("df"),
            F.col("s1").cast("bigint").alias("total_count"),
            F.round(fano, 6).alias("fano"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets — head/middle/tail per language.
# ---------------------------------------------------------------------------

_PPL_BUCKETS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), idx AS (
  SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM toks
), bi AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx
), bc AS (
  SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2
), uc AS (
  SELECT w1, count(*) AS cu FROM bi GROUP BY 1
), v AS (
  SELECT count(DISTINCT x) AS nv FROM (SELECT unnest(w) AS x FROM toks)
), scored AS (
  SELECT b.doc_id,
         cast(floor(ln((bc.cb + 1) / cast(uc.cu + v.nv AS DOUBLE)) * 100000000 + 0.5)
              AS BIGINT) AS q
  FROM bi b
  JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
  JOIN uc ON uc.w1 = b.w1
  CROSS JOIN v
), per_doc AS (
  SELECT doc_id, count(*) AS n, sum(q) AS sq FROM scored GROUP BY doc_id
), qm AS (
  SELECT d.lang, p.doc_id,
         CAST(floor(-p.sq / CAST(p.n AS DOUBLE) + 0.5) AS BIGINT) AS qmean
  FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
), ranked AS (
  SELECT lang, qmean,
         row_number() OVER (PARTITION BY lang ORDER BY qmean, doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS nl
  FROM qm
)
SELECT lang,
       CASE CAST(floor(3.0 * (rn - 1) / nl) AS INT)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       round((sum(qmean) / CAST(count(*) AS DOUBLE)) / 100000000.0, 4) AS mean_surprisal,
       round(max(qmean) / 100000000.0, 4) AS cut_surprisal
FROM ranked
GROUP BY 1, 2 ORDER BY lang, bucket
"""


@register("corpus_perplexity_buckets", oracle=_PPL_BUCKETS_ORACLE, tags=("text", "quality", "lm", "curation"))
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partition: per language, rank docs by
    LM surprisal and cut into equal thirds — the curation policy behind
    CCNet/LLaMA's pretraining data ("keep head+middle, drop tail", Wenzek
    et al. 2020), using the dependency-free in-corpus bigram model from
    text_bigram_surprisal as the scorer. Per (lang, bucket): doc count,
    mean surprisal, and the bucket's upper cut — the thresholds a
    filtering job would then apply map-side.

    Determinism: each doc's mean surprisal is quantized to an INTEGER
    (1e-8 units) before ranking — rank order, tie-breaks (doc_id), and
    every bucket aggregate are integer-exact on both engines; no float
    comparison anywhere near a cut boundary. Bucket id from the rank by
    integer arithmetic (floor(3·(rn−1)/n)), NOT ntile (whose remainder
    distribution is engine-specific).

    Scale: the scorer is the shared bigram subtree (one exploded frame,
    two aggregates, AQE-split Zipf head). The per-lang ranking here uses
    one row per DOC (not per token); at 100 TB swap the window for the
    ranged-rank recipe (functions/ranks.py) or compute just the two
    tercile boundaries via the quantile path — the bucket rule is two
    broadcast cut values either way.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = F.split(normalized_text("text"), " ")
    bi = (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            "w",
            F.explode(adjacent_pairs("w")).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("w", F.col("i")).alias("w1"),
            F.element_at("w", F.col("i") + 1).alias("w2"),
        )
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    uc = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    vocab = d.select(F.explode(w).alias("x")).agg(F.countDistinct("x").alias("nv"))
    logp = F.ln((F.col("cb") + 1) / (F.col("cu") + F.col("nv")).cast("double"))
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", F.floor(logp * 100000000 + 0.5).cast("bigint").alias("q"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("sq")
    )
    qm = per_doc.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "doc_id",
        F.floor((-F.col("sq")).cast("double") / F.col("n") + 0.5)
        .cast("bigint")
        .alias("qmean"),
    )
    lw = Window.partitionBy("lang")
    ranked = qm.select(
        "lang",
        "qmean",
        F.row_number().over(lw.orderBy("qmean", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(lw).alias("nl"),
    )
    bucket = (
        F.when(F.floor(F.lit(3.0) * (F.col("rn") - 1) / F.col("nl")) == 0, "head")
        .when(F.floor(F.lit(3.0) * (F.col("rn") - 1) / F.col("nl")) == 1, "middle")
        .otherwise("tail")
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                (F.sum("qmean") / F.count(F.lit(1)).cast("double")) / 100000000.0, 4
            ).alias("mean_surprisal"),
            F.round(F.max("qmean") / F.lit(100000000.0), 4).alias("cut_surprisal"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction — stopword-delimited phrases, degree/freq scores.
# ---------------------------------------------------------------------------

RAKE_MAX_WORDS = 4  # candidate phrases longer than this are noise, not keywords
RAKE_TOP_K = 20
_RAKE_DELIM = chr(1)  # phrase separator injected at stopword positions

_RAKE_ORACLE = rf"""
WITH norm AS (
  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents
), phr AS (
  SELECT trim(p) AS phrase
  FROM (
    SELECT unnest(str_split(regexp_replace(t, '\b({_STOPWORDS})\b', chr(1), 'g'), chr(1))) AS p
    FROM norm
  )
  WHERE len(regexp_split_to_array(trim(p), ' ')) BETWEEN 2 AND {RAKE_MAX_WORDS}
    AND trim(p) <> ''
), pw AS (
  SELECT phrase, unnest(regexp_split_to_array(phrase, ' ')) AS word,
         len(regexp_split_to_array(phrase, ' ')) AS np
  FROM phr
), wstat AS (
  SELECT word, count(*) AS freq, sum(np) AS degree FROM pw GROUP BY word
), wscore AS (
  SELECT word, CAST(floor(degree / CAST(freq AS DOUBLE) * 100000000 + 0.5) AS BIGINT) AS q
  FROM wstat
), pcount AS (
  SELECT phrase, count(*) AS n_occurrences FROM phr GROUP BY phrase
), pscore AS (
  SELECT px.phrase, CAST(sum(w.q) AS BIGINT) AS score_q
  FROM (SELECT DISTINCT phrase, word FROM pw) px
  JOIN wscore w ON w.word = px.word
  GROUP BY px.phrase
)
SELECT c.phrase,
       CAST(len(regexp_split_to_array(c.phrase, ' ')) AS BIGINT) AS n_words,
       CAST(c.n_occurrences AS BIGINT) AS n_occurrences,
       round(s.score_q / 100000000.0, 4) AS score
FROM pcount c JOIN pscore s ON s.phrase = c.phrase
ORDER BY s.score_q DESC, c.n_occurrences DESC, c.phrase
LIMIT {RAKE_TOP_K}
"""


@register("text_rake_keywords", oracle=_RAKE_ORACLE, tags=("text", "keywords"))
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal stopword-delimited word runs (2-4 words), each word
    scores degree/freq over the candidate corpus (degree = summed
    lengths of the phrases it appears in — favors words that travel in
    long collocations), and a phrase scores the sum of its distinct
    words' scores. Top-20 corpus keywords with full deterministic
    tie-breaks — the zero-model keyphrase surface for corpus browsing,
    topic labeling, and index building.

    Engine determinism: word scores are integer-quantized (1e-8) before
    the per-phrase sum (order-free integer adds — the surprisal recipe);
    ranking is on the integer score. Scoring expands DISTINCT
    (phrase, word) pairs (a word repeated within one phrase counts once
    — set semantics, pinned in pytest) and joins them to the
    broadcast-sized word-score table; occurrence counts join back at
    the end.

    Scale: two token-keyed aggregates (word stats, phrase counts) + one
    broadcast join; TakeOrdered top-20. No window over raw data; the
    phrase explode is the only fan-out and is bounded by corpus tokens.
    """
    d = load(spark, sf_dir, "documents")
    phrases = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(
                        normalized_text("text"), rf"\b({_STOPWORDS})\b", _RAKE_DELIM
                    ),
                    _RAKE_DELIM,
                )
            ).alias("p")
        )
        .select(F.trim("p").alias("phrase"))
        .where(
            (F.col("phrase") != "")
            & F.size(F.split("phrase", " ")).between(2, RAKE_MAX_WORDS)
        )
    )
    pw = phrases.select(
        "phrase",
        F.explode(F.split("phrase", " ")).alias("word"),
        F.size(F.split("phrase", " ")).alias("np"),
    )
    wscore = (
        pw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("np").alias("degree"))
        .select(
            "word",
            F.floor(F.col("degree") / F.col("freq").cast("double") * 100000000 + 0.5)
            .cast("bigint")
            .alias("q"),
        )
    )
    pcount = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    distinct_pw = pw.select("phrase", "word").distinct()
    pscore = (
        distinct_pw.join(F.broadcast(wscore), "word")
        .groupBy("phrase")
        .agg(F.sum("q").cast("bigint").alias("score_q"))
    )
    return (
        pcount.join(pscore, "phrase")
        .orderBy(F.col("score_q").desc(), F.col("n_occurrences").desc(), "phrase")
        .limit(RAKE_TOP_K)
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("bigint").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.round(F.col("score_q") / 100000000.0, 4).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine — near-dup/related-doc pairs without embeddings.
# ---------------------------------------------------------------------------

SPARSE_SIG_TERMS = 10  # per-doc signature: top-M terms by tf-idf
SPARSE_TOP_PAIRS = 50

_SPARSE_COS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) AS w
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
), sig AS (
  SELECT doc_id, term, w FROM (
    SELECT doc_id, term, w,
           row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rk
    FROM w
  ) WHERE rk <= {SPARSE_SIG_TERMS}
), nrm AS (
  SELECT doc_id, sum(CAST(floor(w * w * 1000000 + 0.5) AS BIGINT)) AS qn
  FROM sig GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         count(*) AS n_shared_terms,
         sum(CAST(floor(a.w * b.w * 1000000 + 0.5) AS BIGINT)) AS qdot
  FROM sig a JOIN sig b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d.doc_id_1, d.doc_id_2, d.n_shared_terms,
         d.qdot / (sqrt(n1.qn) * sqrt(n2.qn)) AS cos
  FROM dots d
  JOIN nrm n1 ON n1.doc_id = d.doc_id_1
  JOIN nrm n2 ON n2.doc_id = d.doc_id_2
)
SELECT doc_id_1, doc_id_2, CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
       round(cos, 4) AS cosine
FROM scored
ORDER BY cos DESC, doc_id_1, doc_id_2
LIMIT {SPARSE_TOP_PAIRS}
"""


@register("text_sparse_cosine_topk", oracle=_SPARSE_COS_ORACLE, tags=("text", "similarity"))
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector document similarity: cosine over each doc's top-10
    TF-IDF term signature, top-50 most-similar pairs — the
    lexical/sparse retrieval tier (what a BM25-ish related-documents or
    near-topic-dup pass computes) complementing the DENSE embedding
    ladder in operators/similarity.py. Signature truncation is the
    standard sparse prune (prefix-filtering family, PPJoin): two docs
    can only pair if their top-idf terms overlap, so the self-join is an
    inverted-index join on signature terms — |sig|=10 rows per doc, NOT
    the full vocabulary, and never all-pairs.

    Engine determinism: tf·idf weights are identical doubles on both
    engines (integer tf/df/N through one ln), signature selection
    tie-breaks on term, and every cross-row sum (norms, dots) is
    integer-quantized (1e-6) before aggregation — the surprisal recipe —
    so cosine = qdot/(√qn1·√qn2) is a pure function of engine-identical
    integers and the top-50 cut is exact.

    Scale: at 100 TB add a document-frequency cap on signature terms
    (df ≤ τ drops corpus-wide terms the idf already down-weights) to
    bound the hottest inverted-index key; the shuffle stays
    O(docs·|sig|) either way and candidates travel as bare id pairs.

    Honest bench note (the embedding_neardup_lsh discipline): this
    testdata has only ~31 distinct words, so idf has nothing to spread —
    every signature term lands in ~40% of docs and the candidate set
    degenerates to ~43M raw / ~12M distinct pairs at sf0.1 (the DuckDB
    oracle pays the same quadratic, hence the sweep HEAVY listing).
    That is the exact tier doing exact work on a pathological
    vocabulary: with a real corpus vocabulary (10⁵+), signature df
    collapses and the identical plan is near-linear. The pair plan
    (catalog.pair_sides) keeps the candidate fan-out on one task per
    core: left to AQE, the small signature shuffle coalesces into one
    partition and the whole fan-out runs in a single task (first runs
    at sf0.1 on 4 cores: 41 s against 20 s). The sketch rungs
    (dedup_simhash / dedup_minhash) remain the volume path either way.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double"))
            ).alias("w"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "term")
    )
    sig = w.withColumn("rk", rk).where(F.col("rk") <= SPARSE_SIG_TERMS).drop("rk")
    qq = lambda c: F.floor(c * 1000000 + 0.5).cast("bigint")  # noqa: E731
    # Probe side partitioned by doc_id, build side broadcast by AQE: the
    # pair aggregate runs on the join output with no pair-level exchange
    # — the shared shape lives in catalog.pair_sides.
    a, b = pair_sides(sig)
    nrm = sig.groupBy("doc_id").agg(F.sum(qq(F.col("w") * F.col("w"))).alias("qn"))
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.sum(qq(F.col("a.w") * F.col("b.w"))).alias("qdot"),
        )
    )
    n1 = nrm.select(F.col("doc_id").alias("doc_id_1"), F.col("qn").alias("qn1"))
    n2 = nrm.select(F.col("doc_id").alias("doc_id_2"), F.col("qn").alias("qn2"))
    cos = F.col("qdot") / (F.sqrt("qn1") * F.sqrt("qn2"))
    return (
        dots.join(n1, "doc_id_1")
        .join(n2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.col("n_shared_terms").cast("bigint").alias("n_shared_terms"),
            cos.alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id_1", "doc_id_2")
        .limit(SPARSE_TOP_PAIRS)
        .select(
            "doc_id_1",
            "doc_id_2",
            "n_shared_terms",
            F.round("cos", 4).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Readability — Flesch-Kincaid grade from regex-countable proxies.
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(0.39 * (n_words / CAST(n_sentences AS DOUBLE))
             + 11.8 * (n_syllables / CAST(n_words AS DOUBLE)) - 15.59, 4) AS fk_grade
FROM c
"""


@register("text_readability", oracle=_READABILITY_ORACLE, tags=("text", "quality"))
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per document (Kincaid et al. 1975):
    0.39·(words/sentence) + 11.8·(syllables/word) − 15.59, with
    sentences counted as terminal-punctuation runs (floored at 1 — a
    fragment is one sentence) and syllables approximated by vowel-group
    runs — the standard dictionary-free proxy. Readability is a routine
    curation facet: a corpus slice whose grade collapses (boilerplate
    lists) or explodes (OCR noise, code) is a filter candidate, and
    grade-banded sampling is how child-directed / simplified-text
    subsets get assembled.

    Pure map-side regex counts (three integers per doc) → two exact
    integer ratios through one rounded output; zero shuffles beyond the
    scan. Blank docs are excluded (no token base); single-fragment docs
    hit the sentence floor, pinned in pytest.
    """
    t = F.col("text")
    c = (
        load(spark, sf_dir, "documents")
        .where(F.trim(t) != "")
        .select(
            "doc_id",
            F.greatest(
                F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
            ).alias("n_sentences"),
            F.size(F.split(F.trim(t), r"\s+")).alias("n_words"),
            F.size(
                F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
            ).alias("n_syllables"),
        )
    )
    return c.select(
        "doc_id",
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        F.round(
            0.39 * (F.col("n_words") / F.col("n_sentences").cast("double"))
            + 11.8 * (F.col("n_syllables") / F.col("n_words").cast("double"))
            - 15.59,
            4,
        ).alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — pretokens per word, by language.
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = rf"""
WITH m AS (
  SELECT lang,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
           AS n_words,
         len(list_filter(regexp_extract_all(lower(text), '{_PRETOKEN_RE.replace("'", "''")}'),
                         x -> NOT regexp_full_match(x, '\s+'))) AS n_pretokens
  FROM documents WHERE trim(text) <> ''
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_pretokens) AS BIGINT) AS n_pretokens,
       round(sum(n_pretokens) / CAST(sum(n_words) AS DOUBLE), 4) AS fertility,
       round(sum(n_chars) / CAST(sum(n_pretokens) AS DOUBLE), 4) AS chars_per_token
FROM m GROUP BY lang ORDER BY lang
"""


@register("tokenizer_fertility_by_lang", oracle=_FERTILITY_ORACLE, tags=("text", "tokenizer"))
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: pre-tokens per whitespace word
    (and chars per pre-token) under the GPT-2-style pre-tokenizer — THE
    standard cross-lingual tokenizer-equity metric (a language with
    fertility 2× pays twice the sequence length for the same text, which
    skews both training-mix token budgets and inference cost). Reading
    it per LANG over one corpus is how a tokenizer/budget review spots
    the languages a vocabulary underserves, and the fertility number
    converts word-denominated corpus stats into token budgets.

    Map-only counting (the text_pretokenize_count subtree with its
    escape-safe column-API regex), then a |langs|-row aggregate of
    integer sums — exact ratios at the end, blank docs excluded.
    """
    d = load(spark, sf_dir, "documents").where(F.trim("text") != "")
    toks = F.filter(
        F.regexp_extract_all(F.lower("text"), F.lit(_PRETOKEN_RE), F.lit(0)),
        lambda x: ~x.rlike(r"^\s+$"),
    )
    m = d.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(F.split(normalized_text("text"), " ")).alias("n_words"),
        F.size(toks).alias("n_pretokens"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_pretokens").cast("bigint").alias("n_pretokens"),
            F.round(
                F.sum("n_pretokens") / F.sum("n_words").cast("double"), 4
            ).alias("fertility"),
            F.round(
                F.sum("n_chars") / F.sum("n_pretokens").cast("double"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Held-out perplexity — the LM eval discipline applied to the corpus model.
# ---------------------------------------------------------------------------

_HELDOUT_ORACLE = r"""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              ELSE 'eval' END AS part
  FROM documents
), toks AS (
  SELECT doc_id, part,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM split
), idx AS (
  SELECT doc_id, part, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM toks
), bi AS (
  SELECT part, w[i] AS w1, w[i + 1] AS w2 FROM idx
), bc AS (
  SELECT w1, w2, count(*) AS cb FROM bi WHERE part = 'train' GROUP BY 1, 2
), uc AS (
  SELECT w1, count(*) AS cu FROM bi WHERE part = 'train' GROUP BY 1
), v AS (
  SELECT count(DISTINCT x) AS nv
  FROM (SELECT unnest(w) AS x FROM toks WHERE part = 'train')
), vocab AS (
  SELECT DISTINCT unnest(w) AS x FROM toks WHERE part = 'train'
), scored AS (
  SELECT b.part,
         CAST(floor(ln((coalesce(bc.cb, 0) + 1)
                       / CAST(coalesce(uc.cu, 0) + v.nv AS DOUBLE)) * 100000000 + 0.5)
              AS BIGINT) AS q,
         CASE WHEN vo.x IS NULL THEN 1 ELSE 0 END AS oov
  FROM bi b
  LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
  LEFT JOIN uc ON uc.w1 = b.w1
  LEFT JOIN vocab vo ON vo.x = b.w2
  CROSS JOIN v
), agg AS (
  SELECT part, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(oov) AS BIGINT) AS n_oov
  FROM scored GROUP BY part
)
SELECT CAST((SELECT count(*) FROM split WHERE part = 'train') AS BIGINT) AS n_train_docs,
       CAST((SELECT count(*) FROM split WHERE part = 'eval') AS BIGINT) AS n_eval_docs,
       CAST(e.n AS BIGINT) AS n_eval_bigrams,
       round(e.n_oov / CAST(e.n AS DOUBLE), 4) AS oov_rate,
       round(exp(-t.sq / CAST(t.n AS DOUBLE) / 100000000.0), 4) AS train_ppl,
       round(exp(-e.sq / CAST(e.n AS DOUBLE) / 100000000.0), 4) AS heldout_ppl,
       round(exp(-e.sq / CAST(e.n AS DOUBLE) / 100000000.0)
             / exp(-t.sq / CAST(t.n AS DOUBLE) / 100000000.0), 4) AS generalization_gap
FROM agg t JOIN agg e ON t.part = 'train' AND e.part = 'eval'
WHERE t.n > 0 AND e.n > 0
"""


@register("corpus_heldout_perplexity", oracle=_HELDOUT_ORACLE, tags=("text", "lm", "eval"))
def corpus_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity of the in-corpus bigram LM — the eval
    discipline the surprisal operators skip: train the add-one-smoothed
    model ONLY on the deterministic train split (the
    stratified_eval_split md5 rule, so the split is engine-exact and
    stable under corpus growth) and score both splits. heldout_ppl is
    the honest quality signal; generalization_gap (heldout/train ppl)
    near 1 says the corpus model transfers, far above 1 says the
    training split memorized its own templates — the proxy for "is this
    corpus internally diverse or N copies of one boilerplate". oov_rate
    reports how much of eval the train vocabulary never saw.

    Determinism: the split rule is a lowercase-hex string compare;
    every ln is quantized to 1e-8 integers before the per-split sums
    (the surprisal recipe); OOV flags are join-existence bits. Scale:
    the token-level bigram stream collapses to DISTINCT (part, w1, w2)
    groups in ONE shuffle before anything joins — each group is scored
    once and its quantized ln weighted by the group count (identical
    integer sums, Zipf-compressed join input), and the train bigram/
    prefix models derive from that same grouped frame instead of
    re-tokenizing the corpus (2 text scans total, was 5: measured
    5.3 s → ~1.5 s warm at sf0.1). The model tables never leave the
    cluster.
    """
    d = load(spark, sf_dir, "documents")
    part = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "e6", "train"
    ).otherwise("eval")
    w = F.split(normalized_text("text"), " ")
    base = d.select(part.alias("part"), w.alias("w"))
    bi = (
        base.select(
            "part",
            "w",
            F.explode(adjacent_pairs("w")).alias("i"),
        )
        .select(
            "part",
            F.element_at("w", F.col("i")).alias("w1"),
            F.element_at("w", F.col("i") + 1).alias("w2"),
        )
    )
    # ONE shuffle collapses the token-level stream to distinct groups;
    # the train bigram counts (cb), prefix counts (cu = Σ_w2 cb), and the
    # scoring input all derive from this frame — no further corpus scans.
    grp = bi.groupBy("part", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    bc = (
        grp.where(F.col("part") == "train")
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("cb"))
    )
    uc = bc.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = (
        base.where(F.col("part") == "train")
        .select(F.explode("w").alias("x"))
        .distinct()
    )
    v = vocab.agg(F.count(F.lit(1)).alias("nv"))
    logp = F.ln(
        (F.coalesce(F.col("cb"), F.lit(0)) + 1)
        / (F.coalesce(F.col("cu"), F.lit(0)) + F.col("nv")).cast("double")
    )
    scored = (
        grp.join(bc, ["w1", "w2"], "left")
        .join(uc, ["w1"], "left")
        .join(vocab.withColumnRenamed("x", "w2").withColumn("in_v", F.lit(1)), ["w2"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "part",
            F.col("c"),
            (F.col("c") * F.floor(logp * 100000000 + 0.5).cast("bigint")).alias("q"),
            F.when(F.col("in_v").isNull(), F.col("c")).otherwise(F.lit(0)).alias("oov"),
        )
    )
    agg = scored.groupBy("part").agg(
        F.sum("c").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("oov").cast("bigint").alias("n_oov"),
    )
    docs = base.groupBy("part").agg(F.count(F.lit(1)).alias("nd"))
    t = agg.where(F.col("part") == "train").select(
        F.col("n").alias("tn"), F.col("sq").alias("tsq")
    )
    e_ = agg.where(F.col("part") == "eval").select(
        F.col("n").alias("en"), F.col("sq").alias("esq"), F.col("n_oov").alias("eoov")
    )
    dt_ = docs.where(F.col("part") == "train").select(F.col("nd").alias("n_train_docs"))
    de = docs.where(F.col("part") == "eval").select(F.col("nd").alias("n_eval_docs"))
    tp = F.exp(-F.col("tsq") / F.col("tn").cast("double") / 100000000.0)
    ep = F.exp(-F.col("esq") / F.col("en").cast("double") / 100000000.0)
    return (
        t.crossJoin(F.broadcast(e_))
        .crossJoin(F.broadcast(dt_))
        .crossJoin(F.broadcast(de))
        .where((F.col("tn") > 0) & (F.col("en") > 0))
        .select(
            F.col("n_train_docs").cast("bigint").alias("n_train_docs"),
            F.col("n_eval_docs").cast("bigint").alias("n_eval_docs"),
            F.col("en").cast("bigint").alias("n_eval_bigrams"),
            F.round(F.col("eoov") / F.col("en").cast("double"), 4).alias("oov_rate"),
            F.round(tp, 4).alias("train_ppl"),
            F.round(ep, 4).alias("heldout_ppl"),
            F.round(ep / tp, 4).alias("generalization_gap"),
        )
    )


# ---------------------------------------------------------------------------
# Burrows' Delta — stylometric distance between sources.
# ---------------------------------------------------------------------------

_DELTA_ORACLE = rf"""
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), tot AS (
  SELECT source, count(*) AS t FROM tok GROUP BY source
), fw AS (
  SELECT unnest(str_split('{_STOPWORDS}', '|')) AS w
), cnt AS (
  SELECT f.w, t.source, count(tok.w) AS c
  FROM fw f CROSS JOIN tot t
  LEFT JOIN tok ON tok.source = t.source AND tok.w = f.w
  GROUP BY f.w, t.source
), q AS (
  SELECT c.w, c.source,
         CAST(floor(1000.0 * c.c / tt.t * 1000000 + 0.5) AS BIGINT) AS qf
  FROM cnt c JOIN tot tt ON tt.source = c.source
), m AS (
  SELECT w, count(*) AS n, CAST(sum(qf) AS BIGINT) AS s,
         CAST(sum(qf * qf) AS BIGINT) AS ss
  FROM q GROUP BY w
), z AS (
  SELECT q.w, q.source,
         (q.qf - m.s / CAST(m.n AS DOUBLE))
           / sqrt((m.n * m.ss - CAST(m.s AS DOUBLE) * m.s)) * m.n AS z
  FROM q JOIN m ON m.w = q.w
  WHERE (m.n * m.ss - m.s * m.s) > 0
), pairz AS (
  SELECT a.source AS source_1, b.source AS source_2,
         CAST(floor(abs(a.z - b.z) * 100000000 + 0.5) AS BIGINT) AS qdz
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
)
SELECT source_1, source_2,
       CAST(count(*) AS BIGINT) AS n_markers,
       round(sum(qdz) / CAST(count(*) AS DOUBLE) / 100000000.0, 4) AS delta
FROM pairz GROUP BY source_1, source_2
ORDER BY source_1, source_2
"""


@register("text_burrows_delta", oracle=_DELTA_ORACLE, tags=("text", "stylometry"))
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (Burrows 2002) between sources: per-mille rates of
    the function-word marker set, z-scored per marker across sources,
    Delta(s,t) = mean |z_s − z_t| — the standard stylometric distance
    behind authorship attribution and same-origin detection. For a
    training corpus the question it answers is provenance QA: two
    "independent" sources with Delta ≈ 0 are stylistically one origin
    (a scraped mirror, one generator behind two names) and double-count
    in any mixing plan; the χ²/entropy operators see topic mix, Delta
    sees STYLE (function words are topic-free by construction).

    Determinism: rates quantize to integers before the cross-source
    moments (exact Σ, Σ²), z uses one correctly-rounded sqrt of an
    exact rational, and per-pair |Δz| re-quantizes before the marker
    sum. Frames are |sources|×|markers| — broadcast-scale at any corpus
    size; the only data-sized step is the one token-count aggregate.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(normalized_text("text"), " ")).alias("w")
    )
    tot = tok.groupBy("source").agg(F.count(F.lit(1)).alias("t"))
    markers = _STOPWORDS.split("|")
    fw = local_frame(spark, [(m,) for m in markers], "w string")
    cnt = (
        F.broadcast(fw)
        .crossJoin(tot.select("source"))
        .join(tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c")), ["source", "w"], "left")
        .select("w", "source", F.coalesce("c", F.lit(0)).alias("c"))
    )
    q = cnt.join(F.broadcast(tot), "source").select(
        "w",
        "source",
        F.floor(1000.0 * F.col("c") / F.col("t") * 1000000 + 0.5)
        .cast("bigint")
        .alias("qf"),
    )
    m = q.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qf").cast("bigint").alias("s"),
        F.sum(F.col("qf") * F.col("qf")).cast("bigint").alias("ss"),
    )
    z = (
        q.join(F.broadcast(m), "w")
        .where((F.col("n") * F.col("ss") - F.col("s") * F.col("s")) > 0)
        .select(
            "w",
            "source",
            # z = dev / sigma_pop with sigma_pop = sqrt(n·ss − s²)/n, i.e.
            # dev·n/sqrt(n·ss − s²) — the literature's Delta normalization.
            # (An earlier form divided by sqrt(Σdev²) = sigma_pop·sqrt(n),
            # which scaled every Delta down by sqrt(n_sources) and broke
            # cross-corpus threshold reads; same-pair ordering was
            # unaffected, which is why the pins didn't catch it.)
            (
                (F.col("qf") - F.col("s") / F.col("n").cast("double"))
                / F.sqrt(
                    (F.col("n") * F.col("ss") - F.col("s").cast("double") * F.col("s"))
                )
                * F.col("n")
            ).alias("z"),
        )
    )
    a, b = z.alias("a"), z.alias("b")
    pairz = a.join(
        b, (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source"))
    ).select(
        F.col("a.source").alias("source_1"),
        F.col("b.source").alias("source_2"),
        F.floor(F.abs(F.col("a.z") - F.col("b.z")) * 100000000 + 0.5)
        .cast("bigint")
        .alias("qdz"),
    )
    return (
        pairz.groupBy("source_1", "source_2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_markers"),
            F.round(
                F.sum("qdz") / F.count(F.lit(1)).cast("double") / 100000000.0, 4
            ).alias("delta"),
        )
        .orderBy("source_1", "source_2")
    )
