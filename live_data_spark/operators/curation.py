"""Corpus-curation operators: sequence packing, per-source caps, entropy.

The pre-training data-prep steps that sit between "filtered corpus" and
"training batches": packing documents into fixed token budgets, capping
over-represented sources, and cheap information-density scoring. All are
BASELINE.json extension surface (the reference delegates everything to
Snowflake and has no curation layer); semantics follow the public
recipes (GPT-style concat-and-split packing, CCNet/RefinedWeb-style
per-domain caps, entropy quality signals).

Determinism: every operator orders by explicit keys (doc_id) and keeps
arithmetic in integers or identically-rounded doubles so the DuckDB
oracles hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register

# ---------------------------------------------------------------------------
# Sequence packing — fixed token-budget bins (concat-and-split).
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048  # tokens per packed sequence
_PACK_SHARDS = 4  # parallel packing streams per language

_PACK_ORACLE = rf"""
WITH toks AS (
  SELECT lang, doc_id % {_PACK_SHARDS} AS shard, doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
), placed AS (
  SELECT lang, shard, doc_id, n_tokens,
         cast(floor((sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
              / {_PACK_BUDGET}.0) AS BIGINT) AS bin
  FROM toks
)
SELECT lang, cast(shard AS BIGINT) AS shard, bin,
       count(*) AS n_docs,
       cast(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(n_tokens) / {_PACK_BUDGET}.0, 4) AS fill_ratio
FROM placed
GROUP BY lang, shard, bin
"""


@register("corpus_pack_sequences", oracle=_PACK_ORACLE, tags=("text", "packing", "pipeline"))
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training sequences
    (GPT-style concat-and-split): documents are concatenated in a
    deterministic order and a document belongs to the bin where it
    starts, ``bin = floor(tokens_before / budget)``.

    The running token sum is a window per (lang, shard) — sharding by
    ``doc_id % k`` is what makes this scale: packing semantics allow ANY
    grouping into streams, so instead of one global (skew-prone,
    single-partition) running sum per language, each language packs k
    independent streams in parallel. At 100 TB, raise k to
    executors×cores; the window never sees more than 1/k of a language.
    Output is the per-bin manifest (doc count, token fill) a training
    loader consumes.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.withColumn(
        "bin",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(_PACK_BUDGET)),
    )
    return placed.groupBy("lang", "shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.sum("n_tokens") / float(_PACK_BUDGET), 4).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# Per-source document caps — bounding over-represented domains.
# ---------------------------------------------------------------------------

_SOURCE_CAP = 80

_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE rn <= {_SOURCE_CAP}) AS n_kept,
       round(count(*) FILTER (WHERE rn <= {_SOURCE_CAP}) / cast(count(*) AS DOUBLE), 4)
         AS keep_ratio,
       CASE WHEN count(*) > {_SOURCE_CAP} THEN 1 ELSE 0 END AS cap_hit
FROM ranked
GROUP BY source
"""


@register("corpus_source_cap", oracle=_CAP_ORACLE, tags=("text", "sampling", "pipeline"))
def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap documents per source (CCNet/RefinedWeb-style domain cap):
    keep the first N per source by deterministic rank, report per-source
    keep stats. The kept set is ``rn <= cap`` — reproducible because the
    rank order is a total order (doc_id).

    Scale note: ``row_number() PARTITION BY source`` hashes the corpus
    by source, so one mega-domain becomes one hot partition. When the
    cap is a rate rather than an exact first-N, the skew-free form is a
    two-phase cap: per-source counts (map-side combine) joined back,
    then a deterministic hash filter ``pmod(hash(doc_id), n) < cap``
    keeps ≈cap docs per source with no per-source ordering at all. That
    keeps a different sample, so it is a different operator, not a body
    for this one; the exact-rank form here is the oracle-checkable
    contract.
    """
    d = load(spark, sf_dir, "documents")
    rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    ranked = d.select("source", rn.alias("rn"))
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("rn") <= _SOURCE_CAP, 1)).alias("n_kept"),
        F.round(
            F.count(F.when(F.col("rn") <= _SOURCE_CAP, 1)) / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("keep_ratio"),
        F.when(F.count(F.lit(1)) > _SOURCE_CAP, 1).otherwise(0).alias("cap_hit"),
    )


# ---------------------------------------------------------------------------
# Character-class entropy — information-density quality signal.
# ---------------------------------------------------------------------------

_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def _count_char_spark(c: str) -> Column:
    low = F.lower(F.col("text"))
    return (F.length(low) - F.length(F.replace(low, F.lit(c)))).cast("double")


def _entropy_sql_terms() -> str:
    # p*log2(p) per letter + the residual "other" bucket, identical
    # arithmetic on both engines (0-count buckets contribute 0).
    cnt = {c: f"(length(lower(text)) - length(replace(lower(text), '{c}', '')))" for c in _ALPHABET}
    other = "(length(text) - (" + " + ".join(cnt.values()) + "))"
    terms = [
        f"CASE WHEN {e} > 0 THEN ({e} / cast(length(text) AS DOUBLE))"
        f" * log2({e} / cast(length(text) AS DOUBLE)) ELSE 0 END"
        for e in [*cnt.values(), other]
    ]
    return " + ".join(terms)


_ENTROPY_ORACLE = f"""
SELECT doc_id, lang,
       round(-({_entropy_sql_terms()}), 4) AS char_entropy
FROM documents
"""


@register("text_char_entropy", oracle=_ENTROPY_ORACLE, tags=("text", "quality"))
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-document character distribution over
    a fixed 27-bucket alphabet (a–z + other) — the cheap
    information-density signal that catches mojibake, base64 blobs, and
    keyboard-mash (low or pathological entropy) without tokenizing.

    Deliberately NOT an explode(chars) aggregation: per-letter counts
    come from 26 length/replace expressions, so the whole operator is
    one map-only projection inside whole-stage codegen — zero shuffle,
    zero fan-out, the ideal 100 TB shape. The explode form would
    multiply the corpus by its character count before aggregating.
    """
    d = load(spark, sf_dir, "documents")
    counts = [_count_char_spark(c) for c in _ALPHABET]
    total = F.length("text").cast("double")
    other = total - sum(counts[1:], counts[0])
    terms = [
        F.when(e > 0, (e / total) * F.log2(e / total)).otherwise(0.0)
        for e in [*counts, other]
    ]
    entropy = -sum(terms[1:], terms[0])
    return d.select("doc_id", "lang", F.round(entropy, 4).alias("char_entropy"))


# ---------------------------------------------------------------------------
# Document chunking — overlapping token windows for embedding pipelines.
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # 16-token overlap

_CHUNK_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), chunks AS (
  SELECT doc_id,
         unnest(generate_series(0, greatest(cast(ceil((len(w) - {_CHUNK_SIZE}) / {_CHUNK_STRIDE}.0) AS BIGINT), 0))) AS chunk_id,
         len(w) AS n_words
  FROM toks WHERE len(w) > 0
)
SELECT doc_id, chunk_id,
       chunk_id * {_CHUNK_STRIDE} + 1 AS start_word,
       least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_words) AS end_word,
       least(chunk_id * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n_words)
         - (chunk_id * {_CHUNK_STRIDE} + 1) + 1 AS n_tokens
FROM chunks
"""


@register("corpus_chunk_documents", oracle=_CHUNK_ORACLE, tags=("text", "chunking", "pipeline"))
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride 48) —
    the doc→chunk fan-out every embedding/RAG pipeline runs before
    vectorizing. Emits the chunk manifest (word offsets + actual
    length); the text slice itself is ``array_to_string(slice(w, start,
    n))`` on the same arithmetic when the consumer wants payloads.

    Chunk count per doc is ``1 + ceil((len-size)/stride)`` (every word
    covered, last chunk ragged). The generator is an integer
    ``sequence`` explode — same no-array-materialization discipline as
    shingle_rows; one map-only pass, fan-out ≈ len/stride rows per doc,
    no shuffle at all.
    """
    d = load(spark, sf_dir, "documents")
    w = F.split(F.trim(F.regexp_replace("text", r"\s+", " ")), " ")
    base = d.select("doc_id", F.size(w).alias("n_words")).where(F.col("n_words") > 0)
    n_chunks_m1 = F.greatest(
        F.ceil((F.col("n_words") - _CHUNK_SIZE) / float(_CHUNK_STRIDE)).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    chunks = base.select(
        "doc_id",
        "n_words",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_m1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * _CHUNK_STRIDE + 1
    end = F.least(start + (_CHUNK_SIZE - 1), F.col("n_words"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        start.alias("start_word"),
        end.alias("end_word"),
        (end - start + 1).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality funnel — stage-by-stage survival accounting for the corpus gates.
# ---------------------------------------------------------------------------

_FUNNEL_Q_ORACLE = r"""
WITH stg AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         len(regexp_extract_all(text, '\b(the|a|of|and|is|in|to|for|on|with)\b')) AS n_stop,
         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
         length(text) AS n_chars
  FROM documents
), flagged AS (
  SELECT lang, fp, doc_id,
         CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS c_len,
         CASE WHEN n_tokens >= 20
               AND ((n_stop / n_tokens BETWEEN 0.01 AND 0.5) OR lang <> 'en')
              THEN 1 ELSE 0 END AS c_stop,
         CASE WHEN n_tokens >= 20
               AND ((n_stop / n_tokens BETWEEN 0.01 AND 0.5) OR lang <> 'en')
               AND n_punct / n_chars < 0.2
              THEN 1 ELSE 0 END AS c_punct
  FROM stg
), surv AS (
  SELECT fp, min(doc_id) AS doc_id FROM flagged WHERE c_punct = 1 GROUP BY fp
), final AS (
  SELECT f.lang, f.doc_id, f.c_len, f.c_stop, f.c_punct,
         CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c_dedup
  FROM flagged f LEFT JOIN surv s ON s.fp = f.fp AND s.doc_id = f.doc_id
)
SELECT lang,
       count(*) AS n_total,
       cast(sum(c_len) AS BIGINT) AS n_after_length,
       cast(sum(c_stop) AS BIGINT) AS n_after_stopword,
       cast(sum(c_punct) AS BIGINT) AS n_after_punct,
       cast(sum(c_dedup) AS BIGINT) AS n_after_dedup,
       round(sum(c_dedup) / cast(count(*) AS DOUBLE), 4) AS keep_rate
FROM final
GROUP BY lang
"""


@register("corpus_quality_funnel", oracle=_FUNNEL_Q_ORACLE, tags=("text", "quality", "pipeline"))
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language survival through the corpus gates (length → stopword
    → punctuation → exact dedup) — the observability table a curation
    pipeline publishes so a sudden gate-level drop (bad crawl, regressed
    classifier) is visible before it poisons a training mix. Gate
    definitions are exactly corpus/pipeline.py's (stopword band applies
    to English only; dedup keeps min-doc_id per fingerprint among gate
    survivors).

    One narrow scan computes every cumulative flag; the only shuffle
    beyond the 1-row-per-lang aggregate is the dedup survivor map
    (fp → min id, 16-byte keys). The funnel counts are CASE-sums in a
    single pass — not one filtered subquery per stage.
    """
    from live_data_spark.operators.text import fingerprint

    d = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    n_stop = F.regexp_count("text", F.lit(r"\b(the|a|of|and|is|in|to|for|on|with)\b")).cast(
        "double"
    )
    n_punct = F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("double")
    n_chars = F.length("text").cast("double")
    c_len = n_tokens >= 20
    c_stop = c_len & ((n_stop / n_tokens).between(0.01, 0.5) | (F.col("lang") != "en"))
    c_punct = c_stop & (n_punct / n_chars < 0.2)
    flagged = d.select(
        "lang",
        "doc_id",
        fingerprint("text").alias("fp"),
        c_len.cast("int").alias("c_len"),
        c_stop.cast("int").alias("c_stop"),
        c_punct.cast("int").alias("c_punct"),
    )
    surv = (
        flagged.where(F.col("c_punct") == 1)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("c_dedup", F.lit(1))
    )
    final = flagged.join(surv, ["fp", "doc_id"], "left").na.fill({"c_dedup": 0})
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("c_len").alias("n_after_length"),
        F.sum("c_stop").alias("n_after_stopword"),
        F.sum("c_punct").alias("n_after_punct"),
        F.sum("c_dedup").alias("n_after_dedup"),
        F.round(F.sum("c_dedup") / F.count(F.lit(1)).cast("double"), 4).alias("keep_rate"),
    )


# ---------------------------------------------------------------------------
# Priority sampling — deterministic weighted sample (Duffield-Lund-Thorup).
# ---------------------------------------------------------------------------

_PRIORITY_K = 100

# Knuth-hash uniform in (0, 1]: same integer arithmetic as
# functions.dialect.deterministic_sample, scaled to a million buckets.
# Integer ops + one correctly-rounded IEEE division = engine-identical.
_U_BUCKETS = 1_000_003

_PRIORITY_ORACLE = rf"""
WITH weighted AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\s+')) AS w,
         (((doc_id % 100003) * 2654435761) % {_U_BUCKETS} + 1) / {_U_BUCKETS}.0 AS u
  FROM documents
), prioritized AS (
  SELECT doc_id, lang, w, round(w / u, 4) AS priority,
         row_number() OVER (ORDER BY w / u DESC, doc_id) AS rnk
  FROM weighted
)
SELECT doc_id, lang, cast(w AS BIGINT) AS n_tokens, priority
FROM prioritized WHERE rnk <= {_PRIORITY_K}
"""


@register("corpus_priority_sample", oracle=_PRIORITY_ORACLE, tags=("text", "sampling"))
def corpus_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample via priority sampling (Duffield,
    Lund & Thorup): each doc gets priority ``w / u`` for a per-doc
    uniform ``u``; the top-k priorities form a sample whose inclusion
    probability is proportional to weight (here token count) — the
    principled way to subsample a corpus for eval/inspection when long
    documents should be proportionally represented.

    Determinism across engines: ``u`` is a Knuth integer hash mapped to
    (0, 1] — integer arithmetic plus ONE correctly-rounded IEEE division,
    so priorities are bit-identical in Spark and DuckDB (no rand(), no
    transcendental functions whose last ulp differs per libm). Plan: a
    map-only projection then TakeOrderedAndProject — the top-k never
    sorts the corpus. Ties carry a doc_id break for a total order.
    """
    d = load(spark, sf_dir, "documents")
    w = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    u = (
        (F.pmod(F.col("doc_id"), F.lit(100003)) * F.lit(2654435761)) % _U_BUCKETS + 1
    ) / float(_U_BUCKETS)
    weighted = d.select(
        "doc_id", "lang", w.alias("w"), (w.cast("double") / u).alias("p")
    )
    return (
        weighted.orderBy(F.col("p").desc(), "doc_id")
        .limit(_PRIORITY_K)
        .select(
            "doc_id",
            "lang",
            F.col("w").alias("n_tokens"),
            F.round("p", 4).alias("priority"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square drift test — lang × source independence.
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
), margins AS (
  SELECT lang, source, o,
         sum(o) OVER (PARTITION BY lang) AS row_n,
         sum(o) OVER (PARTITION BY source) AS col_n,
         sum(o) OVER () AS n
  FROM cells
)
SELECT lang, source, cast(o AS BIGINT) AS observed,
       round(row_n * col_n / cast(n AS DOUBLE), 4) AS expected,
       round(pow(o - row_n * col_n / cast(n AS DOUBLE), 2)
             / (row_n * col_n / cast(n AS DOUBLE)), 4) AS chi2_contribution
FROM margins
"""


@register("corpus_lang_source_chi2", oracle=_CHI2_ORACLE, tags=("text", "stats", "drift"))
def corpus_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for lang × source — the
    distribution-drift check a corpus pipeline runs per ingest batch
    (is language mix independent of source? a spiking cell = one crawl
    pouring one language). Emits observed vs expected and each cell's
    χ² contribution; the test statistic is their sum and the threshold
    lives in the consumer.

    One |langs|×|sources| cell aggregate (the only pass over documents),
    then windows over that tiny frame for the margins — the windows
    never see the corpus, only the contingency table.
    """
    d = load(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    row_n = F.sum("o").over(Window.partitionBy("lang"))
    col_n = F.sum("o").over(Window.partitionBy("source"))
    n = F.sum("o").over(Window.partitionBy())
    expected = row_n * col_n / n.cast("double")
    return cells.select(
        "lang",
        "source",
        F.col("o").alias("observed"),
        F.round(expected, 4).alias("expected"),
        F.round(F.pow(F.col("o") - expected, 2) / expected, 4).alias("chi2_contribution"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled language mix — multilingual alpha-sampling rates.
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3  # the standard multilingual temperature (mBERT/XLM-R lineage)

_TEMP_MIX_ORACLE = rf"""
WITH per_lang AS (
  SELECT lang,
         cast(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), shares AS (
  SELECT lang, n_tokens,
         n_tokens / cast(sum(n_tokens) OVER () AS DOUBLE) AS share,
         pow(n_tokens / cast(sum(n_tokens) OVER () AS DOUBLE), {_MIX_ALPHA})
           AS share_alpha
  FROM per_lang
)
SELECT lang, n_tokens,
       round(share, 4) AS natural_share,
       round(share_alpha / sum(share_alpha) OVER (), 4) AS sampled_share,
       round((share_alpha / sum(share_alpha) OVER ()) / share, 4) AS upsample_factor
FROM shares
"""


@register("training_mix_temperature", oracle=_TEMP_MIX_ORACLE, tags=("text", "sampling", "pipeline"))
def training_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α=0.3) language sampling — the exponentiated
    re-mix that keeps low-resource languages represented (p_i ∝
    share_i^α, the mBERT/XLM-R recipe), alongside the natural share and
    each language's implied up/downsample factor.

    Complements ``training_mix_plan`` (fixed token budgets): this is the
    *relative* mix. One per-lang token aggregate (the only pass over
    documents); all shares/normalizations are windows over the
    |langs|-row frame. ``pow`` is the one transcendental — last-ulp
    differences between libm implementations sit ~10 orders below the
    4-decimal rounding.
    """
    d = load(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("bigint").alias("n_tokens")
    )
    wall = Window.partitionBy()
    share = F.col("n_tokens") / F.sum("n_tokens").over(wall).cast("double")
    shares = per_lang.select(
        "lang", "n_tokens", share.alias("share"), F.pow(share, _MIX_ALPHA).alias("share_alpha")
    )
    return shares.select(
        "lang",
        "n_tokens",
        F.round("share", 4).alias("natural_share"),
        F.round(F.col("share_alpha") / F.sum("share_alpha").over(wall), 4).alias("sampled_share"),
        F.round(
            (F.col("share_alpha") / F.sum("share_alpha").over(wall)) / F.col("share"), 4
        ).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# Dedup-rate observability — duplicate mass per source.
# ---------------------------------------------------------------------------

_DUPRATE_ORACLE = r"""
WITH fps AS (
  SELECT source, doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), surv AS (
  SELECT fp, min(doc_id) AS keeper FROM fps GROUP BY fp
)
SELECT f.source,
       count(*) AS n_docs,
       count(*) FILTER (WHERE f.doc_id <> s.keeper) AS n_duplicates,
       round(count(*) FILTER (WHERE f.doc_id <> s.keeper) / cast(count(*) AS DOUBLE), 4)
         AS dup_rate
FROM fps f JOIN surv s ON s.fp = f.fp
GROUP BY f.source
"""


@register("dedup_rate_by_source", oracle=_DUPRATE_ORACLE, tags=("dedup", "pipeline", "quality"))
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate mass per source (keep-min-id convention): the dedup
    observability cut — a source whose dup_rate jumps between ingests is
    re-crawling or mirroring content, and that's visible here before the
    dedup pass silently eats the budget.

    Same 16-byte fingerprint shuffle as ``dedup_exact`` (the survivor
    map is fp → min id); the per-source rollup rides the fingerprint
    join. Non-survivor rows are counted as duplicates regardless of
    which source holds the keeper — cross-source mirrors show up in
    BOTH sources' rates by design.
    """
    from live_data_spark.operators.text import fingerprint

    d = load(spark, sf_dir, "documents").select(
        "source", "doc_id", fingerprint("text").alias("fp")
    )
    surv = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    joined = d.join(surv, "fp")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("doc_id") != F.col("keeper"), 1)).alias("n_duplicates"),
        F.round(
            F.count(F.when(F.col("doc_id") != F.col("keeper"), 1))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split — hash-stratified eval carve-out.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       cast(sum(n_chars) AS BIGINT) AS n_chars_total
FROM assigned GROUP BY split, lang
"""


@register("stratified_eval_split", oracle=_SPLIT_ORACLE, tags=("text", "sampling", "pipeline"))
def stratified_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free id hash:
    the first md5 byte of the doc_id partitions docs ~230/13/13 over 256
    (≈90/5/5) — the split every training pipeline needs to be STABLE
    across reruns, engines, and corpus growth (a doc's split never
    changes when other docs arrive, unlike percentile- or rand()-based
    carve-outs). Reported per (split, lang) so stratification drift is
    visible — a split that starves a language's eval set shows up as a
    missing/thin row.

    Pure map-side classification + one aggregate; the md5 prefix
    compares as a lowercase hex STRING on both engines, so the rule is
    engine-exact with no float boundary anywhere. At 100 TB this is the
    cheapest query in the pipeline — one pass, no wide rows.
    """
    d = load(spark, sf_dir, "documents")
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h2 < "e6", "train").when(h2 < "f3", "val").otherwise("test")
    )
    return d.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix — mirror/re-crawl detection at the shingle tier.
# ---------------------------------------------------------------------------

_SOURCE_OVERLAP_ORACLE = r"""
WITH toks AS (
  SELECT source,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
), sizes AS (
  SELECT source, count(*) AS c FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS source_1, b.source AS source_2, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_1, i.source_2, i.n_shared,
       round(i.n_shared / cast(least(s1.c, s2.c) AS DOUBLE), 4) AS containment
FROM inter i
JOIN sizes s1 ON s1.source = i.source_1
JOIN sizes s2 ON s2.source = i.source_2
"""


@register(
    "dedup_source_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    tags=("dedup", "pipeline", "quality"),
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix at the word-3-gram tier: shared
    distinct shingles and containment (shared / smaller side) per source
    pair — the mirror detector ``dedup_rate_by_source`` can't be: exact
    fingerprints only fire on verbatim re-crawls, while a mirror with
    boilerplate/encoding drift shares most of its SHINGLES. A source
    pair whose containment is an outlier against the corpus-wide
    vocabulary floor is one site scraped twice.

    Plan: the dedup ladder's distinct-shingle subtree aggregated to
    (source, shingle), then a shingle-keyed self-join that emits source
    PAIRS — output is |sources|² rows, input shuffle O(distinct
    (source, shingle)). Per hot shingle the join emits ≤ C(|sources|, 2)
    rows, so the blowup is bounded by the (small) source count, not the
    corpus; at thousands of sources, switch the pair join to the banded
    MinHash rung exactly as doc-level dedup does.
    """
    from live_data_spark.operators.dedup import shingle_rows

    # shingle_rows keyed by SOURCE instead of doc_id — the SAME codegen
    # implementation as the doc-level dedup ladder (cheap integer
    # sequence + per-row gram assembly, never a transform()-built array
    # under explode: the measured-52× trap this entry originally fell
    # into, 17 s → ~3 s at sf0.1).
    sh = shingle_rows(spark, sf_dir, key="source")
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_1"), F.col("b.source").alias("source_2")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("source").alias("source_1"), F.col("c").alias("c1"))
    s2 = sizes.select(F.col("source").alias("source_2"), F.col("c").alias("c2"))
    return (
        inter.join(F.broadcast(s1), "source_1")
        .join(F.broadcast(s2), "source_2")
        .select(
            "source_1",
            "source_2",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("c1", "c2").cast("double"), 4
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Epoch resampling — deterministic per-doc repetition to hit a target mix.
# ---------------------------------------------------------------------------

# Upsampling factors per language (low-resource langs repeat more — the
# public multi-epoch mix recipe). Fractional parts emit an extra copy for
# a hash-selected fraction of docs, so the REALIZED factor converges to
# the target without any RNG state.
EPOCH_FACTORS: dict[str, float] = {
    "en": 1.0,
    "fr": 1.5,
    "es": 1.5,
    "de": 2.5,
    "zh": 3.0,
}


def _epoch_cases() -> tuple[str, str]:
    """(SQL base-copies CASE, SQL frac-threshold CASE) from EPOCH_FACTORS."""
    base = " ".join(
        f"WHEN '{lang}' THEN {int(f)}" for lang, f in EPOCH_FACTORS.items()
    )
    thr = " ".join(
        f"WHEN '{lang}' THEN '{int((f - int(f)) * 65536):04x}'"
        for lang, f in EPOCH_FACTORS.items()
        if f != int(f)
    )
    return (
        f"CASE lang {base} ELSE 1 END",
        f"CASE lang {thr} ELSE '0000' END",
    )


_EPOCH_BASE_CASE, _EPOCH_THR_CASE = _epoch_cases()


def epoch_copies_column() -> Column:
    """Per-doc epoch copy count as a Column — base copies per lang plus
    one hash-selected extra for the fractional part. THE single Spark
    source of truth for the EPOCH_FACTORS encoding (the SQL twin is
    ``_epoch_cases``): corpus_epoch_resample and the training manifest
    both build from here, so a factor/threshold change cannot diverge
    between them."""
    chain_b = None
    chain_t = None
    for lang, f in EPOCH_FACTORS.items():
        cond = F.col("lang") == lang
        b_val, t_val = int(f), f"{int((f - int(f)) * 65536):04x}"
        chain_b = F.when(cond, b_val) if chain_b is None else chain_b.when(cond, b_val)
        chain_t = F.when(cond, t_val) if chain_t is None else chain_t.when(cond, t_val)
    base = chain_b.otherwise(1)
    thr = chain_t.otherwise("0000")
    u = F.substring(F.md5(F.concat(F.lit("epoch:"), F.col("doc_id").cast("string"))), 1, 4)
    return base + F.when(u < thr, 1).otherwise(0)

_EPOCH_ORACLE = f"""
WITH plan AS (
  SELECT lang, doc_id,
         {_EPOCH_BASE_CASE}
         + CASE WHEN substr(md5('epoch:' || cast(doc_id AS VARCHAR)), 1, 4)
                     < {_EPOCH_THR_CASE}
                THEN 1 ELSE 0 END AS n_copies
  FROM documents
), stream AS (
  SELECT lang, doc_id FROM (
    SELECT lang, doc_id, unnest(generate_series(1, n_copies)) FROM plan
  )
)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_emitted,
       round(count(*) / cast(count(DISTINCT doc_id) AS DOUBLE), 4) AS realized_factor
FROM stream GROUP BY lang
"""


@register("corpus_epoch_resample", oracle=_EPOCH_ORACLE, tags=("text", "sampling", "pipeline"))
def corpus_epoch_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the multi-epoch training stream: each document repeats
    ``EPOCH_FACTORS[lang]`` times, with the fractional part emitted as one
    extra copy for a deterministic md5-selected slice of doc_ids (the
    first 4 hex chars compare as a STRING against the fraction's hex
    threshold — the ``stratified_eval_split`` trick, engine-exact with no
    float boundary). A doc's copy count never changes as the corpus
    grows, so epoch composition is reproducible across reruns and
    engines; the per-lang rollup audits realized vs target factor.

    The stream is a real ``explode(sequence(1, n))`` fan-out — at 100 TB
    this is the map-only operator that writers consume directly (salt the
    copy index into the output partitioning so repeats don't co-locate);
    the rollup here is one extra aggregate for the driver check. The
    distinct-count is exact per lang (thousands of groups at most — no
    sketch needed at the rollup tier).
    """
    d = load(spark, sf_dir, "documents")
    n_copies = epoch_copies_column()
    stream = d.select("lang", "doc_id", F.explode(F.sequence(F.lit(1), n_copies)).alias("copy"))
    return stream.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_emitted"),
        F.round(
            F.count(F.lit(1)) / F.countDistinct("doc_id").cast("double"), 4
        ).alias("realized_factor"),
    )


# ---------------------------------------------------------------------------
# Per-source quantile normalization — comparable quality thresholds.
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, n_chars,
       round((r - 1) / cast(NULLIF(n - 1, 0) AS DOUBLE), 6) AS pct_rank,
       CASE WHEN (r - 1) >= 0.75 * (n - 1) AND n > 1 THEN 1 ELSE 0 END AS top_quartile
FROM ranked
"""


@register("quality_quantile_normalize", oracle=_QNORM_ORACLE, tags=("text", "sampling", "window"))
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize a quality signal WITHIN each source: a doc's
    score becomes its percentile among same-source docs, so one global
    threshold ("keep the top quartile") is comparable across sources
    with wildly different score distributions — the cross-source
    calibration step per-source caps and mix planning assume. Signal
    here is n_chars (integer — no float boundary in the ranking);
    swapping in any scorer column is the same plan.

    Ranks come from row_number with a doc_id tiebreak, so the percentile
    is an exact rational — identical doubles on both engines. A
    single-doc source has no percentile (NULL, not a divide-by-zero
    abort — the ranked-twin degenerate-frame guard class). Per-source
    windows partition by source: parallel across sources, and within a
    source this is the documented single-partition-per-group window —
    the range-partitioned rank family (functions/ranks.py) is the
    swap-in when ONE source outgrows an executor.
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = F.row_number().over(w)
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    pct = F.when(n > 1, (r - 1) / (n - 1).cast("double"))
    return d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(pct, 6).alias("pct_rank"),
        F.when((n > 1) & ((r - 1) >= 0.75 * (n - 1)), 1)
        .otherwise(0)
        .alias("top_quartile"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit — quasi-identifier group sizes before release.
# ---------------------------------------------------------------------------

K_ANON_THRESHOLD = 5

_KANON_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         strftime(cast(ts AS DATE), '%Y-%m-%d') AS day,
         cast(floor(value / 100.0) AS BIGINT) AS value_band,
         count(*) AS k
  FROM events GROUP BY 1, 2, 3
)
SELECT
  cast(count(*) AS BIGINT) AS n_cells,
  cast(count(CASE WHEN k < {K_ANON_THRESHOLD} THEN 1 END) AS BIGINT) AS n_risky_cells,
  cast(sum(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END) AS BIGINT) AS n_risky_rows,
  cast(min(k) AS BIGINT) AS min_k,
  round(count(CASE WHEN k < {K_ANON_THRESHOLD} THEN 1 END)
        / NULLIF(cast(count(*) AS DOUBLE), 0), 4) AS risky_cell_rate
FROM cells
"""


@register("privacy_k_anonymity", oracle=_KANON_ORACLE, tags=("events", "privacy", "agg"))
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (event_type, day, coarse value band): how many QI cells hold fewer
    than k=5 rows — the re-identification risk gate a dataset release
    (or a training corpus with user-derived events) runs BEFORE export,
    complementing ``text_pii_scrub_stats``'s content-level redaction
    with a structure-level check. ``min_k`` is the dataset's k-anonymity
    number; risky rows are the suppression/generalization workload.

    One aggregate to the QI-cell table (map-side combined), one 1-row
    rollup — the cheapest shape there is. At 100 TB the QI-cell table is
    bounded by the QI domain (types × days × bands), not by rows.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") / 100.0).cast("bigint").alias("value_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    risky = F.when(F.col("k") < K_ANON_THRESHOLD, 1)
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.count(risky).alias("n_risky_cells"),
        F.sum(F.when(F.col("k") < K_ANON_THRESHOLD, F.col("k")).otherwise(0)).alias(
            "n_risky_rows"
        ),
        F.min("k").alias("min_k"),
        # empty events → 0 cells: NULL rate (mirrors the oracle's NULLIF),
        # never an ANSI DIVIDE_BY_ZERO job abort
        F.round(
            F.count(risky) / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)), 4
        ).alias("risky_cell_rate"),
    )


# ---------------------------------------------------------------------------
# Deterministic pseudonymization — PII-safe user surrogates.
# ---------------------------------------------------------------------------

_PSEUDO_ORACLE = """
WITH m AS (
  SELECT user_id, substr(md5('pseudo:' || cast(user_id AS VARCHAR)), 1, 16) AS token
  FROM events
)
SELECT cast(count(*) AS BIGINT) AS n_rows,
       cast(count(DISTINCT user_id) AS BIGINT) AS n_users,
       cast(count(DISTINCT token) AS BIGINT) AS n_tokens,
       cast(count(DISTINCT user_id) - count(DISTINCT token) AS BIGINT) AS n_collisions
FROM m
"""


@register("privacy_pseudonymize_users", oracle=_PSEUDO_ORACLE, tags=("events", "privacy"))
def privacy_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization audit: replace user ids with a
    keyed-hash surrogate (md5 over a salted id here; swap the salt for a
    vault-held secret in production) and verify the two properties a
    release needs — referential consistency (same user → same token
    everywhere, which the deterministic map gives by construction) and
    injectivity on this dataset (n_collisions must be 0; a 64-bit token
    space collides at ~5e9 users — the audit is what catches a too-short
    token before export). Complements ``privacy_k_anonymity``
    (structure) and ``text_pii_scrub_stats`` (content).

    Map-side token derivation + one aggregate; the token column itself
    is what the export pipeline writes in place of user_id.
    """
    e = load(spark, sf_dir, "events")
    token = F.substring(
        F.md5(F.concat(F.lit("pseudo:"), F.col("user_id").cast("string"))), 1, 16
    )
    m = e.select("user_id", token.alias("token"))
    return m.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("token").alias("n_tokens"),
        (F.countDistinct("user_id") - F.countDistinct("token")).alias("n_collisions"),
    )


# ---------------------------------------------------------------------------
# Waterfill budget allocator — fair per-source token caps under a budget.
# ---------------------------------------------------------------------------

WATERFILL_BUDGET_SHARE = 0.5  # allocate 50% of total corpus tokens

_WATERFILL_ORACLE = rf"""
WITH src AS (
  SELECT source,
         cast(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS toks
  FROM documents GROUP BY source
), tot AS (
  SELECT cast(floor(sum(toks) * {WATERFILL_BUDGET_SHARE}) AS BIGINT) AS budget,
         count(*) AS n_src
  FROM src
), ranked AS (
  SELECT source, toks,
         row_number() OVER (ORDER BY toks, source) AS rn,
         sum(toks) OVER (ORDER BY toks, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM src
), lvl AS (
  -- the water level L: smallest sources fit whole; the level splits the
  -- rest. The determining rank is the FIRST one where filling every
  -- remaining source up to THAT source's size would meet the budget —
  -- the level formula is only valid at that rank (later ranks have
  -- already overspent the prefix and yield garbage).
  SELECT (tot.budget - (ranked.prefix - ranked.toks))
         / cast(tot.n_src - ranked.rn + 1 AS DOUBLE) AS level
  FROM ranked, tot
  WHERE ranked.prefix - ranked.toks + (tot.n_src - ranked.rn + 1) * ranked.toks
        >= tot.budget
  ORDER BY ranked.rn LIMIT 1
)
SELECT r.source, r.toks AS n_tokens,
       cast(floor(least(cast(r.toks AS DOUBLE), l.level)) AS BIGINT) AS alloc_tokens,
       CASE WHEN r.toks > l.level THEN 1 ELSE 0 END AS capped
FROM ranked r, lvl l
"""


@register("corpus_waterfill_caps", oracle=_WATERFILL_ORACLE, tags=("text", "sampling", "pipeline"))
def corpus_waterfill_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waterfilling allocator: given a global token budget (50% of the
    corpus here), find the single cap level L such that every source
    contributes min(its tokens, L) and the budget is exactly spent —
    the max-min-fair answer to "which sources shrink, and by how much"
    (the principled version of a hand-picked per-domain cap: small
    sources keep everything, over-represented ones share one ceiling).

    Closed form via order statistics, fully declarative: sort sources by
    size, prefix-sum, and the level is determined at the first rank
    where filling all remaining sources to that source's size would
    exceed the budget. Source count is small (thousands at worst), so
    every frame here is dimension-sized; the only corpus-scale work is
    the per-source token sum (map-side combined). The level and
    allocations are exact integer/rational arithmetic until the single
    final division — floor'd identically on both engines.
    """
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).cast("bigint").alias("toks")
    )
    tot = src.agg(
        F.floor(F.sum("toks") * WATERFILL_BUDGET_SHARE).cast("bigint").alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w = Window.orderBy("toks", "source")
    ranked = src.select(
        "source",
        "toks",
        F.row_number().over(w).alias("rn"),
        F.sum("toks").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("prefix"),
    )
    rt = ranked.crossJoin(F.broadcast(tot))
    feasible = rt.where(
        F.col("prefix") - F.col("toks")
        + (F.col("n_src") - F.col("rn") + 1) * F.col("toks")
        >= F.col("budget")
    )
    # the level formula only holds at the FIRST feasible rank (later
    # ranks' prefixes already overspend the budget and yield garbage)
    lvl = (
        feasible.orderBy("rn")
        .limit(1)
        .select(
            (
                (F.col("budget") - (F.col("prefix") - F.col("toks")))
                / (F.col("n_src") - F.col("rn") + 1).cast("double")
            ).alias("level")
        )
    )
    return ranked.crossJoin(F.broadcast(lvl)).select(
        "source",
        F.col("toks").alias("n_tokens"),
        # explicit floor: DuckDB's DOUBLE→BIGINT cast rounds half-even
        # while Spark's truncates — the r1 cast-divergence class
        F.floor(F.least(F.col("toks").cast("double"), F.col("level")))
        .cast("bigint")
        .alias("alloc_tokens"),
        F.when(F.col("toks") > F.col("level"), 1).otherwise(0).alias("capped"),
    )


# ---------------------------------------------------------------------------
# Training-mix schedule — annealed per-step language weights.
# ---------------------------------------------------------------------------

MIX_STEPS = 20
MIX_WARMUP = 10

_MIX_SCHED_ORACLE = rf"""
WITH share AS (
  SELECT lang,
         sum(len(regexp_split_to_array(trim(text), '\s+'))) AS toks,
         count(*) AS n_langs_docs
  FROM documents GROUP BY lang
), tot AS (SELECT sum(toks) AS t, count(*) AS n_langs FROM share),
steps AS (SELECT unnest(generate_series(0, {MIX_STEPS})) AS step)
SELECT s.step, sh.lang,
       round((1.0 / tot.n_langs)
             + (sh.toks / cast(tot.t AS DOUBLE) - 1.0 / tot.n_langs)
               * least(1.0, s.step / {MIX_WARMUP}.0), 6) AS weight
FROM steps s, share sh, tot
"""


@register("training_mix_schedule", oracle=_MIX_SCHED_ORACLE, tags=("text", "sampling", "pipeline"))
def training_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum mix schedule: per-training-step language weights that
    ANNEAL from uniform (every language equally, the early-training
    regime that stabilizes multilingual models) to the corpus's token
    share over a warmup horizon — the (step, lang, weight) table a
    training loader samples from, with Σ_lang weight == 1 at every step
    by construction (both endpoints are distributions and the anneal is
    a convex combination).

    Shape: one per-lang token aggregate (corpus-sized, map-side
    combined), then a steps × langs grid fan-out — schedule-sized, not
    data-sized. Weights are rationals of token counts evaluated
    identically on both engines; the convexity invariant is pinned in
    tests/test_curation.py.
    """
    d = load(spark, sf_dir, "documents")
    share = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("toks")
    )
    tot = share.agg(F.sum("toks").alias("t"), F.count(F.lit(1)).alias("n_langs"))
    steps = spark.range(0, MIX_STEPS + 1).select(F.col("id").cast("int").alias("step"))
    uniform = 1.0 / F.col("n_langs")
    target = F.col("toks") / F.col("t").cast("double")
    anneal = F.least(F.lit(1.0), F.col("step") / float(MIX_WARMUP))
    return (
        steps.crossJoin(share)
        .crossJoin(F.broadcast(tot))
        .select(
            "step",
            "lang",
            F.round(uniform + (target - uniform) * anneal, 6).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching — padding-waste accounting for inference/training.
# ---------------------------------------------------------------------------

LEN_BUCKETS = 8

_LENBUCKET_ORACLE = rf"""
WITH lens AS (
  SELECT doc_id, cast(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), cuts AS (
  -- DuckDB percentile_disc requires CONSTANT fractions: 7 explicit calls
  SELECT [q1, q2, q3, q4, q5, q6, q7] AS qs FROM (
    SELECT percentile_disc(1/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q1, percentile_disc(2/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q2, percentile_disc(3/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q3, percentile_disc(4/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q4, percentile_disc(5/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q5, percentile_disc(6/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q6, percentile_disc(7/8.0) WITHIN GROUP (ORDER BY n_tokens) AS q7 FROM lens
  )
), bucketed AS (
  SELECT l.doc_id, l.n_tokens,
         cast(len(list_filter(c.qs, q -> q < l.n_tokens)) AS INTEGER) AS bucket
  FROM lens l, cuts c
)
SELECT bucket,
       cast(count(*) AS BIGINT) AS n_docs,
       cast(min(n_tokens) AS BIGINT) AS min_tokens,
       cast(max(n_tokens) AS BIGINT) AS max_tokens,
       cast(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_tokens,
       round(sum(n_tokens) / cast(count(*) * max(n_tokens) AS DOUBLE), 4)
         AS fill_efficiency
FROM bucketed
GROUP BY bucket
"""


@register("corpus_length_buckets", oracle=_LENBUCKET_ORACLE, tags=("text", "packing", "pipeline"))
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign docs to 8 equi-depth token-
    length buckets and report each bucket's padding waste if batches pad
    to the bucket max — the number that justifies bucketing at all
    (padding a mixed batch to the global max wastes the difference; 8
    buckets typically recover most of it). Fill efficiency is
    Σtokens / (n·max) per bucket.

    Scale shape: bucket boundaries are ONE 7-row exact-percentile cut
    frame broadcast against the corpus (the equi-depth histogram
    pattern) — no global-order window ever touches data. Boundaries are
    exact integers (percentile_disc over integer lengths), and a doc on
    a boundary goes to the lower bucket on both engines (strict <
    comparison against the cut list).
    """
    d = load(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    cuts = lens.agg(
        *[
            F.expr(f"percentile_disc({x}/{LEN_BUCKETS}.0) WITHIN GROUP (ORDER BY n_tokens)").alias(f"q{x}")
            for x in range(1, LEN_BUCKETS)
        ]
    ).select(F.array(*[f"q{x}" for x in range(1, LEN_BUCKETS)]).alias("qs"))
    bucketed = lens.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        F.size(F.filter("qs", lambda q: q < F.col("n_tokens"))).alias("bucket"),
    )
    agg = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens")).alias("padding_tokens"),
        F.round(
            F.col("sum_tokens") / (F.col("n_docs") * F.col("max_tokens")).cast("double"), 4
        ).alias("fill_efficiency"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit — sensitive-value diversity within each QI cell.
# ---------------------------------------------------------------------------

L_DIVERSITY_THRESHOLD = 3

_LDIV_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         strftime(cast(ts AS DATE), '%Y-%m-%d') AS day,
         cast(floor(value / 100.0) AS BIGINT) AS value_band,
         count(*) AS k,
         count(DISTINCT user_id) AS l
  FROM events GROUP BY 1, 2, 3
)
SELECT
  cast(count(*) AS BIGINT) AS n_cells,
  cast(min(l) AS BIGINT) AS min_l,
  round(sum(l) / NULLIF(cast(count(*) AS DOUBLE), 0), 4) AS mean_l,
  cast(count(CASE WHEN l < {L_DIVERSITY_THRESHOLD} THEN 1 END) AS BIGINT) AS n_risky_cells,
  cast(sum(CASE WHEN l < {L_DIVERSITY_THRESHOLD} THEN k ELSE 0 END) AS BIGINT) AS n_risky_rows,
  round(count(CASE WHEN l < {L_DIVERSITY_THRESHOLD} THEN 1 END)
        / NULLIF(cast(count(*) AS DOUBLE), 0), 4) AS risky_cell_rate
FROM cells
"""


@register("privacy_l_diversity", oracle=_LDIV_ORACLE, tags=("events", "privacy", "agg"))
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) over the same
    quasi-identifier cells as ``privacy_k_anonymity``, with user_id as
    the sensitive attribute: a cell can be k-anonymous yet still leak
    (all k rows belong to ONE user — homogeneity attack); l-diversity
    requires ≥ l distinct sensitive values per cell. Reports the
    dataset's l number (min over cells), the mean, and the cells/rows
    below l=3 — the suppression workload k-anonymity alone misses.

    Same scale shape as the k audit: one QI-cell aggregate (the
    count(DISTINCT user_id) shuffles per cell key, bounded by the QI
    domain × per-cell users), one 1-row rollup, NULLIF-guarded rates on
    empty input.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") / 100.0).cast("bigint").alias("value_band"),
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("user_id").alias("l"),
    )
    risky = F.when(F.col("l") < L_DIVERSITY_THRESHOLD, 1)
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("l").alias("min_l"),
        F.round(
            F.sum("l") / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)), 4
        ).alias("mean_l"),
        F.count(risky).alias("n_risky_cells"),
        F.sum(F.when(F.col("l") < L_DIVERSITY_THRESHOLD, F.col("k")).otherwise(0)).alias(
            "n_risky_rows"
        ),
        F.round(
            F.count(risky) / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)), 4
        ).alias("risky_cell_rate"),
    )


# ---------------------------------------------------------------------------
# Conditional entropy — how much does knowing the source tell about lang?
# ---------------------------------------------------------------------------

_CONDENT_ORACLE = """
WITH cell AS (
  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2
), m AS (
  SELECT source, sum(n) AS ns FROM cell GROUP BY source
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n FROM cell
), lmarg AS (
  SELECT lang, sum(n) AS nl FROM cell GROUP BY lang
), hcond AS (
  SELECT CAST(sum(c.n * CAST(floor(ln(c.n / CAST(m.ns AS DOUBLE)) * 100000000 + 0.5) AS BIGINT))
              AS BIGINT) AS q
  FROM cell c JOIN m ON m.source = c.source
), hlang AS (
  SELECT CAST(sum(l.nl * CAST(floor(ln(l.nl / CAST(t.n AS DOUBLE)) * 100000000 + 0.5) AS BIGINT))
              AS BIGINT) AS q
  FROM lmarg l CROSS JOIN tot t
)
SELECT t.n AS n_docs,
       CAST((SELECT count(*) FROM m) AS BIGINT) AS n_sources,
       CAST((SELECT count(*) FROM lmarg) AS BIGINT) AS n_langs,
       round(-hl.q / CAST(t.n AS DOUBLE) / 100000000.0, 4) AS h_lang,
       round(-hc.q / CAST(t.n AS DOUBLE) / 100000000.0, 4) AS h_lang_given_source,
       round((hc.q - hl.q) / CAST(t.n AS DOUBLE) / 100000000.0, 4) AS mutual_information
FROM tot t CROSS JOIN hcond hc CROSS JOIN hlang hl
WHERE t.n > 0
"""


@register("corpus_lang_source_entropy", oracle=_CONDENT_ORACLE, tags=("text", "infotheory", "curation"))
def corpus_lang_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(lang | source) and mutual information
    I(lang; source) over the corpus — the information-theoretic summary
    of how language-pure the sources are: H(lang|source) ≈ 0 means
    routing by source IS routing by language (per-source pipelines can
    skip lang-id); I near H(lang) means the source label carries nearly
    all language signal. The χ² test (corpus_lang_source_chi2) asks "is
    there ANY association"; this quantifies HOW MUCH, in nats — the
    number that actually drives pipeline design.

    Both entropies are n-weighted sums of per-cell quantized lns
    (1e-8 integer units, weighted by exact counts — n·q stays far
    inside int64), so H and I are pure functions of engine-identical
    integers. The cell frame is |sources|×|langs|, so ONE corpus
    aggregate feeds window functions over the cell frame (per-source,
    per-lang, and whole-frame sums — every window is bounded by the
    label domain, never the data) and one final aggregate: the corpus
    is scanned exactly once, where the join form re-ran the scan per
    marginal branch (7 scans → 1).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    ns = F.sum("n").over(Window.partitionBy("source"))
    nl = F.sum("n").over(Window.partitionBy("lang"))
    tot = F.sum("n").over(Window.partitionBy())
    # rank-1 markers dedup the per-lang marginal terms inside the single
    # final aggregate (each lang's nl·q term must count once, not per cell)
    # and count the langs, so the aggregate keeps one distinct group
    # (source) and plans without an Expand, in one form build to build
    lang_rn = F.row_number().over(Window.partitionBy("lang").orderBy("source"))
    enriched = cell.select(
        "n",
        ns.alias("ns"),
        nl.alias("nl"),
        tot.cast("bigint").alias("tot"),
        lang_rn.alias("lang_rn"),
        F.col("source"),
        F.col("lang"),
    )
    qcell = F.col("n") * F.floor(
        F.ln(F.col("n") / F.col("ns").cast("double")) * 100000000 + 0.5
    ).cast("bigint")
    qlang = F.col("nl") * F.floor(
        F.ln(F.col("nl") / F.col("tot").cast("double")) * 100000000 + 0.5
    ).cast("bigint")
    nd = F.col("n_docs").cast("double")
    return (
        enriched.agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count(F.when(F.col("lang_rn") == 1, 1)).cast("bigint").alias("n_langs"),
            F.sum(qcell).cast("bigint").alias("qc"),
            F.sum(F.when(F.col("lang_rn") == 1, qlang)).cast("bigint").alias("ql"),
        )
        .where(F.col("n_docs") > 0)
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            F.round(-F.col("ql") / nd / 100000000.0, 4).alias("h_lang"),
            F.round(-F.col("qc") / nd / 100000000.0, 4).alias("h_lang_given_source"),
            F.round((F.col("qc") - F.col("ql")) / nd / 100000000.0, 4).alias(
                "mutual_information"
            ),
        )
    )


# ---------------------------------------------------------------------------
# DSIR — hashed-n-gram importance weights for data selection.
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096
_DSIR_TARGET_LANG = "en"
# Dirichlet smoothing α = 1/_DSIR_ALPHA_INV. Add-ONE smoothing is wrong
# here: with prior mass B comparable to the TARGET corpus' gram count, the
# smaller corpus dilutes more, biasing every occupied bucket's log-ratio
# negative (measured −0.1/gram at sf0.001 — swamped the signal). α = 0.01
# keeps the finite-sample dilution below the per-gram signal while still
# flooring zero-count buckets; (ct+α) = (100·ct+1)/100 keeps the ratio a
# quotient of exact integer products, so the oracle replays it bit-exact.
_DSIR_ALPHA_INV = 100

def _dsir_core_sql(src: str = "documents") -> str:
    """The DSIR CTE chain up to ``docw(doc_id, n_grams, slrq)`` — the
    per-doc integer (1e-8-quantized) log-weight sum — over any relation
    ``src`` exposing (doc_id, lang, text). Shared by the weights entry,
    the Gumbel-top-k sampler, and the pipeline composition so all three
    oracles replay ONE definition."""
    return rf"""toks AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM {src}
), uni AS (
  SELECT doc_id, lang, unnest(w) AS g FROM toks
), idx AS (
  SELECT doc_id, lang, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM toks
), big AS (
  SELECT doc_id, lang, w[i] || ' ' || w[i + 1] AS g FROM idx
), gb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, g FROM uni UNION ALL SELECT doc_id, lang, g FROM big)
  WHERE g != ''
), agg AS (
  SELECT bucket, count(*) AS cq,
         count(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS ct
  FROM gb GROUP BY 1
), tot AS (
  SELECT CAST(sum(cq) AS BIGINT) AS nq, CAST(sum(ct) AS BIGINT) AS nt FROM agg
), lr AS (
  SELECT bucket,
         CAST(floor(ln((CAST(ct * {_DSIR_ALPHA_INV} + 1 AS DOUBLE) * CAST(nq * {_DSIR_ALPHA_INV} + {_DSIR_BUCKETS} AS DOUBLE))
                       / (CAST(cq * {_DSIR_ALPHA_INV} + 1 AS DOUBLE) * CAST(nt * {_DSIR_ALPHA_INV} + {_DSIR_BUCKETS} AS DOUBLE)))
                    * 100000000 + 0.5) AS BIGINT) AS lrq
  FROM agg CROSS JOIN tot
), docw AS (
  SELECT gb.doc_id,
         count(*) AS n_grams,
         CAST(sum(lrq) AS BIGINT) AS slrq
  FROM gb JOIN lr USING (bucket)
  GROUP BY gb.doc_id
)"""


_DSIR_ORACLE = rf"""
WITH {_dsir_core_sql()}
SELECT doc_id, n_grams, round(slrq / 100000000.0, 4) AS log_weight FROM docw
"""


@register("corpus_dsir_weights", oracle=_DSIR_ORACLE, tags=("text", "sampling", "pipeline"))
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: hashed-n-gram log-likelihood
    ratio between a target distribution and the raw corpus (Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling").
    The data-SELECTION step between quality filtering and mix planning:
    rank raw docs by how target-like their n-gram profile is, then sample
    ∝ exp(log_weight). Target here is the corpus' own 'en' slice — a
    deterministic stand-in for the real-world high-quality target set
    (Wikipedia/books), keeping the entry self-contained and oracle-able.

    Model: unigrams + bigrams of normalized text hash into 4096 buckets
    (the md5-15-hex portable recipe); bag-of-buckets gram LMs with
    Dirichlet α=0.01 smoothing (see _DSIR_ALPHA_INV's note — add-one
    biases the smaller corpus down); log w(doc) = Σ_grams
    ln(p_target[b]/p_raw[b]).

    Plan shape (100 TB): two map-only corpus passes — one builds the
    4096-row conditional histogram (partial aggregation collapses each
    task to ≤4096 rows, so the shuffle is bucket-count-sized regardless
    of corpus size), one scores gram rows against the log-ratio table,
    which is FIXED-domain (≤4096 rows) and broadcast per repo rules. The
    only data-sized shuffle is the final doc_id aggregate, and map-side
    combine collapses it to ~1 row per document before the wire. No
    window, no skew surface (a hot bucket is still one histogram row).
    Engine determinism: the smoothed ratio is a quotient of exact
    integer products, ln is quantized per BUCKET (not per gram) by the
    floor(x·1e8 + 0.5) integer recipe, and per-doc sums are integer —
    order-free on both engines (factors cast to double BEFORE the
    multiply — the integer product overflows int64 past ~10^9 grams).
    Magnitude: |ln ratio| < ln(total grams), so quantized terms stay
    < 2^36 and a per-doc sum stays < 2^53 for any document under ~10^5
    grams at any corpus size.
    """
    docw = dsir_log_weights(load(spark, sf_dir, "documents"))
    return docw.select(
        "doc_id",
        "n_grams",
        F.round(F.col("slrq") / 100000000.0, 4).alias("log_weight"),
    )


def dsir_log_weights(d: DataFrame) -> DataFrame:
    """Per-doc DSIR log-weight as the INTEGER 1e-8-quantized sum
    ``slrq`` (plus the gram count) over any frame exposing (doc_id,
    lang, text) — the pure core shared by ``corpus_dsir_weights``
    (formats it), ``dsir_select`` (ranks on it), and the pipeline
    composition entry. Text normalization is idempotent, so
    already-normalized pipeline text re-normalizes to itself. Plan
    shape documented on ``corpus_dsir_weights``."""
    from live_data_spark.operators.text import normalized_text

    w = F.split(normalized_text("text"), " ")
    base = d.select("doc_id", "lang", w.alias("w"))
    # ONE pass emits unigrams AND bigrams (r12, guide §1.2): the r11
    # shape unioned two explodes, so every consumer of the gram stream
    # re-ran the upstream lineage TWICE (for the pipeline entries that
    # lineage is the full quality-gate + dedup-window prefix — measured
    # 4.3 s for docw-over-ded vs 1.8 s over raw docs at sf0.1, almost
    # all of it prefix recomputation). Per position i: the unigram
    # w[i], plus the bigram w[i]||' '||w[i+1] when a successor exists
    # (NULL otherwise, dropped by the filter) — the exact same gram
    # multiset, one lineage execution. This makes the "two map-only
    # corpus passes" the weights docstring promises literal: histogram
    # pass + scoring pass, nothing doubled.
    idx = base.select(
        "doc_id",
        "lang",
        "w",
        # the when() guards the empty-array edge: sequence(1, 0) yields
        # the DESCENDING [1, 0] and element_at(w, 0) throws. Unreachable
        # today (split never returns an empty array; NULL text propagates
        # to a NULL array, and explode of NULL emits nothing) but robust
        # to upstream normalization changes.
        F.explode(
            F.when(F.size("w") >= 1, F.sequence(F.lit(1), F.size("w")))
        ).alias("i"),
    )
    grams = idx.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                F.element_at("w", F.col("i")),
                F.when(
                    F.col("i") < F.size("w"),
                    F.concat_ws(
                        " ", F.element_at("w", F.col("i")), F.element_at("w", F.col("i") + 1)
                    ),
                ),
            )
        ).alias("g"),
    ).where(F.col("g").isNotNull() & (F.col("g") != ""))
    bucket = F.pmod(
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint"),
        F.lit(_DSIR_BUCKETS),
    )
    gb = grams.select("doc_id", "lang", bucket.alias("bucket"))

    agg = gb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cq"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)).alias("ct"),
    )
    tot = agg.agg(F.sum("cq").alias("nq"), F.sum("ct").alias("nt"))
    b = F.lit(_DSIR_BUCKETS)
    a_inv = F.lit(_DSIR_ALPHA_INV)
    # fixed-domain (≤4096-row) frames: plain broadcast is correct here —
    # the bound never scales with SF
    # cast EACH factor to double before multiplying: the BIGINT product
    # (ct·100+1)·(nq·100+B) overflows int64 once the corpus passes ~10^9
    # grams; per-factor casts round identically on both engines at any
    # scale, so the quantized ln stays engine-exact with no magnitude cap
    lr = agg.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.ln(
                ((F.col("ct") * a_inv + 1).cast("double") * (F.col("nq") * a_inv + b).cast("double"))
                / ((F.col("cq") * a_inv + 1).cast("double") * (F.col("nt") * a_inv + b).cast("double"))
            )
            * 100000000
            + 0.5
        )
        .cast("bigint")
        .alias("lrq"),
    )
    return (
        gb.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lrq").alias("slrq"),
        )
    )


# Gumbel-top-k selection constants. The key is an integer at the same
# 1e-8 scale as slrq: sel_key = slrq + floor(gumbel(u)·1e8 + 0.5) with
# u a 60-bit md5-hash uniform per doc. Range width is ADAPTIVE —
# ((kmax−kmin) div N_RANGES)+1 from the corpus' real key span — so the
# range frame is ≤ N_RANGES+1 rows for ANY key distribution (a per-doc
# slrq is a SUM over the doc's grams: a 10^5-gram doc can push |key|
# past 2^48, so no fixed width bounds the frame).
_DSIR_N_RANGES = 4096
_DSIR_BUDGET_NUM, _DSIR_BUDGET_DEN = 3, 10  # 30% gram budget, exact ints


def dsir_gumbel_key() -> Column:
    """slrq + quantized Gumbel noise — the integer Gumbel-top-k sort key
    over a frame with (doc_id, slrq). Top-k by (log w + Gumbel) samples
    k docs WITHOUT replacement with probability ∝ exp(log w) (the
    Gumbel-max trick; Vieira 2014 "Gumbel-max trick and weighted
    reservoir sampling"). u = (h+0.5)/2^60 from the repo's 15-hex md5
    recipe is an engine-identical double (the int64→double cast rounds
    identically; the 2^60 divide is exact), and the noise is quantized
    to the same 1e-8 integer scale as slrq so ordering, membership, and
    the output key replay exactly on the oracle."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + 0.5) / F.lit(float(1 << 60))
    g = -F.ln(-F.ln(u))
    return F.col("slrq") + F.floor(g * 100000000 + 0.5).cast("bigint")


def dsir_select(docw: DataFrame) -> DataFrame:
    """DSIR's importance-RESAMPLING step (Xie et al. 2023 §2: sample
    docs ∝ exp(log w) without replacement, here under a gram budget):
    keep docs in descending (log w + Gumbel) order until 30% of the
    corpus' grams are taken — a doc is kept iff it STARTS within the
    budget.

    Scale shape — exact global top-k-by-budget WITHOUT a global sort:
    keys bucket into ranges whose width adapts to the corpus' real key
    span (((kmax−kmin) div 4096)+1), so the range frame is ≤4097 rows
    for ANY key distribution — a broadcastable bound that no fixed
    width gives, since per-doc key magnitude grows with document
    length. One map-side-combined aggregate sizes each range; a window
    over that tiny frame computes range prefix totals. Every range
    wholly inside the budget keeps ALL its docs via a broadcast-joined
    map-only filter (no ordering needed); exactly ONE range straddles
    the budget boundary, and only ITS docs (an expected 1/4096 of the
    corpus; recurse on narrower ranges if a skewed key distribution
    ever makes it large) flow into the cumulative-start window. Ranges
    past the budget drop map-only. So the corpus-sized work is: one
    bounds/budget aggregate, one agg shuffle of (rng, n_grams) pairs +
    one broadcast-join filter; the only ordered region is the cut
    range.

    Determinism: sel_key, kmin, width, range ids, prefix sums, and the
    budget (total·3 div 10) are all exact integer arithmetic; ties at
    identical keys break by doc_id in the cut window.
    """
    from pyspark.sql import Window

    keyed = docw.select("doc_id", "n_grams", dsir_gumbel_key().alias("sel_key"))
    bounds = keyed.agg(
        F.min("sel_key").alias("kmin"),
        F.expr(f"((max(sel_key) - min(sel_key)) div {_DSIR_N_RANGES}) + 1").alias(
            "width"
        ),
        F.expr(
            f"(sum(n_grams) * {_DSIR_BUDGET_NUM}) div {_DSIR_BUDGET_DEN}"
        ).alias("budget"),
    )
    kb = keyed.crossJoin(F.broadcast(bounds)).withColumn(
        "rng", F.expr("(sel_key - kmin) div width")
    )
    rngs = kb.groupBy("rng").agg(F.sum("n_grams").alias("t"))
    w_rng = Window.orderBy(F.col("rng").desc()).rowsBetween(Window.unboundedPreceding, -1)
    pre = rngs.withColumn(
        "before", F.coalesce(F.sum("t").over(w_rng), F.lit(0)).cast("bigint")
    )
    # pre is span-bounded (≤4097 rows), bounds is 1 row: plain broadcasts
    k2 = kb.join(F.broadcast(pre), "rng")
    whole = k2.where(F.col("before") + F.col("t") <= F.col("budget"))
    cut = k2.where(
        (F.col("before") < F.col("budget"))
        & (F.col("before") + F.col("t") > F.col("budget"))
    )
    w_cut = Window.partitionBy("rng").orderBy(
        F.col("sel_key").desc(), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, -1)
    cut_kept = cut.withColumn(
        "start", F.col("before") + F.coalesce(F.sum("n_grams").over(w_cut), F.lit(0))
    ).where(F.col("start") < F.col("budget"))
    cols = ["doc_id", "n_grams", "sel_key"]
    return whole.select(cols).unionByName(cut_kept.select(cols))


def _dsir_sample_sql(src: str = "documents") -> str:
    """The oracle twin of ``dsir_select`` over ``_dsir_core_sql(src)``'s
    docw: same integer key, same range-prefix selection, same cut
    window."""
    return rf"""{_dsir_core_sql(src)}, keyed AS (
  SELECT doc_id, n_grams,
         slrq + CAST(floor(-ln(-ln((CAST(h AS DOUBLE) + 0.5) / {float(1 << 60)!r}))
                           * 100000000 + 0.5) AS BIGINT) AS sel_key
  FROM (SELECT doc_id, n_grams, slrq,
               CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM docw)
), bounds AS (
  SELECT CAST(min(sel_key) AS BIGINT) AS kmin,
         ((CAST(max(sel_key) AS BIGINT) - CAST(min(sel_key) AS BIGINT)) // {_DSIR_N_RANGES}) + 1 AS width,
         (CAST(sum(n_grams) AS BIGINT) * {_DSIR_BUDGET_NUM}) // {_DSIR_BUDGET_DEN} AS budget
  FROM keyed
), rk AS (
  SELECT keyed.*, bounds.budget, (sel_key - kmin) // width AS rng
  FROM keyed CROSS JOIN bounds
), pre AS (
  SELECT rng, CAST(sum(n_grams) AS BIGINT) AS t,
         COALESCE(CAST(sum(sum(n_grams)) OVER
           (ORDER BY rng DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before
  FROM rk GROUP BY rng
), sel AS (
  SELECT rk.doc_id, rk.n_grams, rk.sel_key
  FROM rk JOIN pre USING (rng)
  WHERE pre.before + pre.t <= rk.budget
  UNION ALL
  SELECT doc_id, n_grams, sel_key FROM (
    SELECT rk.doc_id, rk.n_grams, rk.sel_key, rk.budget,
           pre.before + COALESCE(sum(rk.n_grams) OVER
             (PARTITION BY rk.rng ORDER BY rk.sel_key DESC, rk.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
    FROM rk JOIN pre USING (rng)
    WHERE pre.before < rk.budget AND pre.before + pre.t > rk.budget
  ) WHERE start_off < budget
)"""


_DSIR_SAMPLE_ORACLE = rf"""
WITH {_dsir_sample_sql()}
SELECT doc_id, n_grams, sel_key FROM sel
"""


@register(
    "corpus_dsir_sample",
    oracle=_DSIR_SAMPLE_ORACLE,
    tags=("text", "sampling", "pipeline"),
)
def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end: importance weights → Gumbel-top-k resampling
    under a 30% gram budget (Xie et al. 2023's weight-then-resample
    recipe, the step that turns ``corpus_dsir_weights``' ranking into a
    selected training subset). Returns the selected docs with their
    integer selection key. Plan shape and determinism documented on
    ``dsir_select``; the weight plan on ``corpus_dsir_weights``."""
    return dsir_select(dsir_log_weights(load(spark, sf_dir, "documents")))
