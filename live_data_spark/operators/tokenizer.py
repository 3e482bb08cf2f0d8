"""BPE tokenizer induction over the ``documents`` corpus.

The missing tier between the pre-tokenizer counts (``text_pretokenize_count``)
and the chars/4 estimate (``text_token_count``): actually LEARN a byte-pair
merge table from the corpus and encode documents with it. This is the
vocabulary-induction step every LLM training pipeline runs once per corpus
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public literature; reference repo has no analog, this is
extension surface per SURVEY §2.12's text-analysis mandate).

Scale shape — the reason distributed BPE looks like this:

- Training iterates over WORD TYPES, not the corpus: the (word, freq)
  table is Zipf-bounded (≪ corpus size; the token stream collapses to
  distinct words once, then every merge round costs O(vocab·word_len)).
  This is the same trick the single-node reference trainers use, and it
  is what makes the Spark loop cheap: the corpus-sized shuffle happens
  exactly once, up front.
- Each merge round is ONE pair-count aggregate (explode an integer
  ``sequence`` per word, assemble pairs with codegen'd ``element_at`` —
  the ``shingle_rows`` lesson, no array materialization) followed by a
  1-ROW collect (the argmax pair). Driver state is the merge table
  itself: n_merges small structs, never data-sized.
- The merge application is a JVM-side ``aggregate`` fold over each
  word's symbol array — left-to-right greedy, exactly the reference
  semantics — so no Python touches the training loop at all.
- Lineage is truncated per round (``_truncate_lineage``: reliable
  checkpoint on a cluster, localCheckpoint in tests) — the iterative-
  Spark plan-doubling trap, same treatment as ``dedup_clusters``.
- Encoding broadcasts the learned ranks dict into an Arrow-batched
  pandas_udf (tokenization is inherently per-word sequential — the one
  place Python is justified; per-batch word→len memoization makes the
  Zipf head free). At 100 TB encode is embarrassingly parallel
  map-only work.

Training is iterative-argmax → no single-statement SQL oracle; the merge
sequence is pinned exactly against a pure-Python Sennrich reference in
tests/test_tokenizer.py, and the first round's pair statistics ARE
SQL-expressible, so ``bpe_pair_stats`` anchors the counting core to a
DuckDB oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from live_data_spark.catalog import load, register
from live_data_spark.operators.dedup import _truncate_lineage, spread
from live_data_spark.operators.text import adjacent_pairs, normalized_text
from live_data_spark.session import local_frame

N_MERGES = 24  # merge table size for the catalog entries (tiny demo vocab)
END_MARK = "</w>"  # end-of-word sentinel so merges can't cross word ends


def word_type_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) over whitespace words of normalized text.

    The one corpus-sized aggregation in the whole trainer; everything
    after iterates over this Zipf-bounded table.
    """
    d = spread(load(spark, sf_dir, "documents"))
    words = F.filter(F.split(normalized_text("text"), " "), lambda x: x != "")
    return (
        d.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_fold(syms, left: str, right: str):
    """Apply one merge (left,right)→left+right to a symbol array,
    left-to-right greedy — the fold form handles overlaps exactly like
    the reference trainer ('aaa' + (a,a) → ['aa','a']). Pure JVM
    ``aggregate``; no UDF.
    """
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("array()").cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, pair_count)]
    in learned order. Ties break deterministically: max count, then
    lexicographically smallest (left, right) — mirrored by the Python
    reference in tests. Each call trains afresh; the durable form is an
    artifacts.py table.
    """
    wt = word_type_table(spark, sf_dir).select(
        "freq",
        F.concat(F.split("word", ""), F.array(F.lit(END_MARK))).alias("syms"),
    )
    # one corpus pass up front; every round below reads this materialization
    wt = _truncate_lineage(wt)
    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        pairs = (
            wt.select("freq", F.explode(adjacent_pairs("syms")).alias("i"), "syms")
            .select(
                F.element_at("syms", F.col("i")).alias("left"),
                F.element_at("syms", F.col("i") + 1).alias("right"),
                "freq",
            )
            .groupBy("left", "right")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "left", "right").limit(1).collect()
        if not top:
            break  # vocabulary fully merged
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((left, right, cnt))
        # 1-symbol words can never pair again — drop them from the loop
        wt = wt.select(
            "freq", _merge_fold(F.col("syms"), left, right).alias("syms")
        ).where(F.size("syms") >= 2)
        # truncate every 3rd round, not every round: a 3-deep fold chain is
        # well inside analyzer limits and halves the per-round job count
        # (each checkpoint is its own job; measured 16.6 s → ~11 s at
        # sf0.01 where fixed per-job overhead dominates the tiny vocab)
        if it % 3 == 2:
            wt = _truncate_lineage(wt)
    return merges


_BPE_WORDS_SQL = r"""
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
"""


def _bpe_chain_sql(n_merges: int = N_MERGES) -> str:
    """The trainer's n merge rounds unrolled as materialized CTEs — the
    iterative-oracle recipe (SCALE.md §13: PageRank/MMR precedent).

    Per round k: ``p{k}`` counts adjacent pairs over the symbol arrays
    (list_zip of slices — generate_series can't take lateral bounds),
    ``m{k}`` is the argmax with the trainer's exact tie-break (count
    desc, then pair), ``w{k}`` applies the merge to every word as a
    seeded left-to-right list_reduce fold — the init empty-array rides
    as the FIRST element (the Holt-Winters seeding trick) and elements
    index POSITIONALLY (the list_reduce struct-name landmine). The fold
    is the exact twin of ``_merge_fold``. ``LEFT JOIN ON TRUE`` (not a
    cross join) keeps the chain total when a round exhausts: an empty
    ``m{k}`` leaves syms unchanged instead of emptying the vocabulary,
    so the encode tail still sees every word. No ``len >= 2`` filter —
    1-symbol words contribute no pairs, so the merge sequence is
    unaffected and the final ``w{n}`` doubles as the encode table.
    """
    parts = [
        f"w0 AS MATERIALIZED (\n"
        f"  SELECT word, freq, regexp_split_to_array(word, '') || ['{END_MARK}'] AS syms\n"
        f"  FROM ({_BPE_WORDS_SQL})\n)"
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT s[1] AS l, s[2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, unnest(list_zip(syms[:len(syms)-1], syms[2:])) AS s FROM w{p})
  GROUP BY 1, 2
), m{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
), w{k} AS MATERIALIZED (
  SELECT w.word, w.freq, list_reduce(
    [CAST([] AS VARCHAR[])] || list_transform(w.syms, s -> [s]),
    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l AND x[1] = m.r
                THEN acc[:len(acc)-1] || [m.l || m.r] ELSE acc || [x[1]] END
  ) AS syms
  FROM w{p} w LEFT JOIN m{k} m ON TRUE
)"""
        )
    return ",\n".join(parts)


def _bpe_train_oracle(n_merges: int = N_MERGES) -> str:
    rows = "\nUNION ALL ".join(
        f'SELECT {k - 1} AS rank, l AS "left", r AS "right", cnt AS pair_count FROM m{k}'
        for k in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_chain_sql(n_merges)}\n{rows}"


@register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(),
    tags=("text", "tokenizer", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table as a DataFrame: (rank, left, right,
    pair_count). Fully oracle-checked (promoted r9 from rows-only): the
    24 argmax rounds unroll as materialized CTEs — pair counts are exact
    integers, the tie-break (count desc, then pair — binary collation on
    ASCII symbols both engines) is total, and the merge application is
    the same left-to-right greedy fold on both sides, so the learned
    SEQUENCE replays exactly. The merge sequence is also pinned against
    a pure-Python Sennrich-style reference in tests/test_tokenizer.py,
    and the counting core is anchored by ``bpe_pair_stats``.
    """
    merges = bpe_train(spark, sf_dir)
    return local_frame(
        spark,
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    )


_PAIR_STATS_ORACLE = r"""
WITH w AS (
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
), p AS (
  SELECT substr(word, i, 1) AS left_sym, substr(word, i + 1, 1) AS right_sym, freq
  FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i FROM w)
)
SELECT left_sym, right_sym, cast(sum(freq) AS BIGINT) AS pair_count
FROM p GROUP BY left_sym, right_sym
ORDER BY pair_count DESC, left_sym, right_sym LIMIT 50
"""


@register("bpe_pair_stats", oracle=_PAIR_STATS_ORACLE, tags=("text", "tokenizer"))
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE pair statistics: top-50 adjacent character pairs
    weighted by word frequency — the exact aggregate the trainer's first
    argmax reads (sans end-marker, which SQL can't see inside substr
    indexing and which only matters to later rounds). Oracle-green
    anchor for the trainer's counting core; total order (count desc,
    then pair) makes the LIMIT deterministic.

    Scale: one corpus-sized word aggregate, then O(vocab·word_len)
    exploded pairs — map-side combine leaves one row per distinct pair
    per partition on the shuffle.
    """
    wt = word_type_table(spark, sf_dir)
    syms = F.split("word", "")
    pairs = (
        wt.select("freq", F.explode(adjacent_pairs(syms)).alias("i"), "word")
        .select(
            F.substring(F.col("word"), F.col("i"), F.lit(1)).alias("left_sym"),
            F.substring(F.col("word"), F.col("i") + 1, F.lit(1)).alias("right_sym"),
            "freq",
        )
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").alias("pair_count"))
    )
    return pairs.orderBy(F.desc("pair_count"), "left_sym", "right_sym").limit(50)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Token count of one word under the learned merge ranks — classic
    greedy lowest-rank-first merging (the GPT-2 ``bpe()`` loop shape,
    public reference implementation semantics).
    """
    syms = list(word) + [END_MARK]
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # merge ALL occurrences of the chosen pair, left to right
        pair = (syms[best], syms[best + 1])
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def _bpe_encode_oracle(n_merges: int = N_MERGES) -> str:
    """Encode oracle off the SAME unrolled chain: token count per word
    type is len(syms) in the final ``w{n}``. Sequential rank-order
    application (what the chain does) equals the encoder's GPT-2-style
    lowest-rank-first loop: a merge learned at rank r only creates
    symbols whose pairs were learned LATER, so after rank r is
    exhausted no pair of rank ≤ r can reappear — the two orders produce
    the same segmentation. Docs with no words LEFT JOIN to (0, 0, NULL)
    exactly like the Spark side's empty-array arm."""
    return f"""WITH {_bpe_chain_sql(n_merges)},
wtok AS MATERIALIZED (SELECT word, len(syms) AS n_tok FROM w{n_merges}),
docw AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
), perdoc AS (
  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(t.n_tok) AS BIGINT) AS n_bpe
  FROM (SELECT doc_id, w FROM docw WHERE w <> '') d JOIN wtok t ON t.word = d.w
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.n_bpe, 0) AS n_bpe_tokens,
       CASE WHEN p.n_words > 0 THEN round(p.n_bpe / CAST(p.n_words AS DOUBLE), 4) END AS bpe_per_word
FROM documents doc LEFT JOIN perdoc p USING (doc_id)"""


@register("bpe_encode_stats", oracle=_bpe_encode_oracle(), tags=("text", "tokenizer"))
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus-learned BPE merges:
    (doc_id, n_words, n_bpe_tokens, bpe_per_word). The budget-math
    ground truth the chars/4 estimate approximates. Fully oracle-checked
    (promoted r9 with the trainer): the oracle replays the merge chain
    and scores each word type from the final symbol table — rank-order
    application ≡ the encoder's lowest-rank-first loop (see
    ``_bpe_encode_oracle``). Also pinned against the pure-Python path
    in tests/test_tokenizer.py.

    The ranks dict is broadcast state inside an Arrow-batched pandas_udf
    (plan-hygiene allowlisted: tokenization is per-word sequential, the
    documented Python-justified case) with per-batch word memoization —
    the Zipf head costs one encode per batch, not per occurrence.
    Map-only: no shuffle anywhere after the scan.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    merges = bpe_train(spark, sf_dir)
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}

    def _count(words_ser):
        memo: dict[str, int] = {}
        out = []
        for words in words_ser:
            if words is None:
                out.append(0)
                continue
            n = 0
            for w in words:
                c = memo.get(w)
                if c is None:
                    c = memo[w] = encode_word(w, ranks)
                n += c
            out.append(n)
        return pd.Series(out, dtype="int64")

    count_udf = pandas_udf(_count, "long")
    d = spread(load(spark, sf_dir, "documents"))
    # NULL text → empty word array (not NULL): 0 words / 0 tokens, and the
    # Arrow batch never carries a None list
    words = F.filter(
        F.split(F.coalesce(normalized_text("text"), F.lit("")), " "),
        lambda x: x != "",
    )
    n_words = F.size(words).cast("bigint")
    n_bpe = count_udf(words)
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
        # empty docs: NULL ratio, not DIVIDE_BY_ZERO (ANSI aborts the job)
        F.when(n_words > 0, F.round(n_bpe / n_words.cast("double"), 4)).alias(
            "bpe_per_word"
        ),
    )
