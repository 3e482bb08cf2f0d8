"""Training-pipeline text operators: PII redaction, stratified sampling,
repetition ratio, train/eval contamination."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from live_data_spark.catalog import catalog


def test_pii_redact_plants(spark):
    """The synthetic corpus has no PII, so the patterns are proven on
    planted examples: every span redacts, clean text is untouched."""
    from live_data_spark.operators.text import pii_redact

    rows = [
        ("contact me at jane.doe+spam@example.co.uk please", "[EMAIL]"),
        ("call +1 (415) 555-0100 now", "[PHONE]"),
        ("ssn 123-45-6789 on file", "[ID]"),
        ("no pii here at all", None),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    out = [r["red"] for r in df.select(pii_redact("text").alias("red")).collect()]
    for (orig, marker), red in zip(rows, out):
        if marker is None:
            assert red == orig
        else:
            assert marker in red
            # the raw span is gone
            assert "@" not in red and "6789" not in red


def test_pii_scrub_stats_counts_planted(spark, tmp_path):
    """Stats aggregate counts hits per source over a planted mini-corpus."""
    from live_data_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c@d.org", "en", "s1", 23),
            (2, "клиент 123-45-6789", "de", "s1", 18),
            (3, "clean", "en", "s2", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "documents.parquet")
    docs.write.parquet(path)
    out = {
        r["source"]: r
        for r in t.text_pii_scrub_stats(spark, str(tmp_path)).collect()
    }
    assert out["s1"]["email_hits"] == 2
    assert out["s1"]["ssn_hits"] == 1
    assert out["s1"]["docs_with_pii"] == 2
    assert out["s2"]["email_hits"] == 0
    assert out["s2"]["docs_with_pii"] == 0


def test_repetition_ratio_flags_loops(spark, sf_dir):
    out = catalog()["text_repetition_ratio"].spark(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r["rep_ratio"] <= 1.0
        assert r["n_distinct"] <= r["n_grams"]


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    q = catalog()["stratified_sample_by_lang"].spark
    a = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    b = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    assert a == b  # no RNG state — identical across runs
    langs = (
        q(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(langs) >= 2  # both strata represented


def test_contamination_finds_planted_copy(spark, tmp_path):
    """A train doc that copies an eval doc's text must be flagged; unrelated
    docs must not."""
    from live_data_spark.operators import text as t

    eval_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, eval_text, "en", "s", 10),  # 0 % 97 == 0 → eval split
            (1, eval_text + " tail words here", "en", "s", 10),  # contaminated train doc
            (2, "one two three four five six seven eight nine ten", "en", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = t.contamination_ngram_overlap(spark, str(tmp_path)).collect()
    pairs = {(r["eval_doc_id"], r["train_doc_id"]): r["n_shared_5grams"] for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 3
    assert (0, 2) not in pairs


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """The eval split is 1/97 of the corpus — the plan must broadcast it,
    never shuffle the train side."""
    plan = (
        catalog()["contamination_ngram_overlap"]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_text_operators_survive_null_empty_short_docs(spark, sf_dir, monkeypatch):
    """Production corpora contain null, empty, and sub-shingle-length
    texts; the driver testdata has none, so nothing else exercises these
    paths. Contract: no operator crashes, shingle-based operators drop
    degenerate docs (no shingles → no rows), and map-only scorers emit a
    row per doc with sane values."""
    import live_data_spark.operators.dedup as dd
    import live_data_spark.operators.text as tx

    rows = [
        (1, None, "en", "s", 0),
        (2, "", "en", "s", 0),
        (3, "one two", "en", "s", 7),  # shorter than one 3-gram shingle
        (4, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 46),
    ]
    fake = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    for mod in (dd, tx):
        monkeypatch.setattr(mod, "load", lambda _s, _d, _t: fake)

    # shingle pipeline: docs 1-3 have no 3-gram shingles → only doc 4 rows
    sh = dd.shingle_rows(spark, sf_dir)
    assert set(r["doc_id"] for r in sh.select("doc_id").distinct().collect()) == {4}

    # pair rungs: run clean and return nothing (single real doc)
    assert dd.dedup_ngram_jaccard(spark, sf_dir).count() == 0
    assert dd.dedup_containment(spark, sf_dir).count() == 0
    assert dd.dedup_containment_minhash(spark, sf_dir).count() == 0
    assert dd.dedup_minhash(spark, sf_dir).count() == 0

    # exact dedup fingerprints every row, null text included
    fps = dd.dedup_exact(spark, sf_dir)
    assert fps.agg(F.sum("n_copies")).first()[0] in (3, 4)  # null fp may drop or group

    # map-only scorers: one row per non-null doc, no exceptions
    tok = {r["doc_id"]: r["n_tokens"] for r in tx.text_token_count(spark, sf_dir).collect()}
    assert tok[3] == 2 and tok[4] == 8
    pre = {r["doc_id"]: r["n_pretokens"] for r in tx.text_pretokenize_count(spark, sf_dir).collect()}
    assert pre[4] > 0
    winnow = {r["doc_id"]: r["n_fingerprints"] for r in tx.text_winnow_fingerprints(spark, sf_dir).collect()}
    assert winnow[4] > 0
    # surprisal: doc 3 has one bigram, doc 4 has seven
    surp = {r["doc_id"]: r["n_bigrams"] for r in tx.text_bigram_surprisal(spark, sf_dir).collect()}
    assert surp.get(3) == 1 and surp.get(4) == 7

    # quality score: empty doc gets NULL punct_ratio and fails the gate
    # (was a DIVIDE_BY_ZERO job abort)
    q = {r["doc_id"]: r for r in tx.text_quality_score(spark, sf_dir).collect()}
    assert q[2]["punct_ratio"] is None and q[2]["quality_pass"] == 0
    # compression ratio: null/empty docs yield NULL, real docs a ratio
    c = {r["doc_id"]: r["compression_ratio"] for r in tx.text_compression_ratio(spark, sf_dir).collect()}
    assert c[1] is None and c[2] is None and c[4] > 0
    # zipf: degenerate corpus (every term frequency equal) → NULL r², no abort
    z = tx.corpus_zipf_slope(spark, sf_dir).first()
    assert z["n_terms"] > 0


def test_pretokenize_matches_python_re_on_adversarial_text(spark, tmp_path):
    """Pin the pre-tokenizer against Python's `re` on text classes absent
    from the generated corpus: punct-whitespace-punct runs, tabs/newlines
    adjacent to punctuation, contractions, digit runs. This is the fixture
    that would have caught the F.expr escape-processing bug (a
    double-quoted SQL literal stripped the backslash from \\s, silently
    running a different regex than documented — 'a !  ! b' counted 3
    tokens instead of 4)."""
    import re

    from live_data_spark.operators import text as t

    texts = [
        "a !  ! b",            # punct / whitespace / punct — the killer case
        "x .\t. y",            # tab between punctuation runs
        "line1\n\n!? line2",   # newlines adjacent to punct run
        "don't we'll they've", # contraction suffixes split off
        "abc123 456def",       # letter/digit boundary
        "   leading spaces",
        "!!!",
    ]
    docs = spark.createDataFrame(
        [(i, s, "en", "s", len(s)) for i, s in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: r["n_pretokens"]
        for r in t.text_pretokenize_count(spark, str(tmp_path)).collect()
    }
    pat = re.compile(t._PRETOKEN_RE)
    for i, s in enumerate(texts):
        want = sum(1 for m in pat.findall(s.lower()) if m.strip())
        assert got[i] == want, f"doc {i!r} ({s!r}): spark={got[i]} re={want}"


def test_unicode_nfc_detects_decomposed_forms(spark, tmp_path):
    """Pin the NFC audit on forms the ASCII testdata can't exercise:
    decomposed accents recompose (shorter), composed text and ASCII pass
    through, Hangul jamo compose to syllables, and NULL text yields NULL
    stats rather than an abort. Also cross-checks CPython unicodedata
    against DuckDB utf8proc on these same strings via the oracle SQL."""
    import duckdb

    from live_data_spark.operators import text as t

    decomposed = "café résumé"      # e + combining acute ×3
    composed = "café résumé"
    jamo = "각"                        # ᄀ+ᅡ+ᆨ → 각
    docs = spark.createDataFrame(
        [
            (1, decomposed, "fr", "s", len(decomposed)),
            (2, composed, "fr", "s", len(composed)),
            (3, "plain ascii", "en", "s", 11),
            (4, jamo, "ko", "s", len(jamo)),
            (5, None, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pq = str(tmp_path / "documents.parquet")
    docs.write.parquet(pq)

    got = {r["doc_id"]: r for r in t.text_unicode_nfc(spark, str(tmp_path)).collect()}
    assert got[1]["is_nfc"] is False and got[1]["n_chars_nfc"] == got[1]["n_chars_raw"] - 3
    assert got[2]["is_nfc"] is True and got[2]["n_chars_nfc"] == got[2]["n_chars_raw"]
    assert got[3]["is_nfc"] is True
    assert got[4]["is_nfc"] is False and got[4]["n_chars_nfc"] == 1
    assert got[5]["is_nfc"] is None and got[5]["n_chars_nfc"] is None

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    duck = {r[0]: r for r in con.execute(t._NFC_ORACLE).fetchall()}
    for i in (1, 2, 3, 4, 5):
        g = got[i]
        assert (g["n_chars_raw"], g["n_chars_nfc"], g["is_nfc"]) == (
            duck[i][1], duck[i][2], duck[i][3],
        ), i


def test_bm25_ranks_term_density(spark, tmp_path):
    """BM25 must reward query-term density and penalize document length:
    a short doc saturated with query terms outranks a long doc with one
    hit, and docs with zero query terms never appear."""
    from live_data_spark.operators import text as t

    hit3 = "spark window hash spark"
    hit1_long = "spark " + " ".join(f"filler{i}" for i in range(100))
    miss = "nothing relevant here at all"
    docs = spark.createDataFrame(
        [(1, hit3, "en", "s", len(hit3)), (2, hit1_long, "en", "s", len(hit1_long)),
         (3, miss, "en", "s", len(miss))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = t.text_bm25_topdocs(spark, str(tmp_path)).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 1 and 3 not in ids
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["bm25"] > by_id[2]["bm25"] > 0
    assert by_id[1]["n_query_terms"] == 3 and by_id[2]["n_query_terms"] == 1


def test_html_strip_stats_on_markup_fixture(spark, tmp_path):
    """The generated corpus has no markup, so pin the operator on real
    HTML shapes: tags counted and stripped, entities counted, markup
    fraction reflects tag weight, clean text passes through, empty/NULL
    docs yield NULL fraction without aborting."""
    from live_data_spark.operators import text as t

    html = '<div class="post"><p>Hello &amp; welcome</p><br/></div>'
    clean = "no markup at all"
    docs = spark.createDataFrame(
        [(1, html, "en", "s", len(html)), (2, clean, "en", "s", len(clean)),
         (3, "", "en", "s", 0), (4, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in t.text_html_strip_stats(spark, str(tmp_path)).collect()}
    assert got[1]["n_tags"] == 5 and got[1]["n_entities"] == 1
    assert got[1]["n_chars_stripped"] == len("Hello &amp; welcome")
    assert 0.5 < got[1]["markup_frac"] < 1.0
    assert got[2]["n_tags"] == 0 and got[2]["markup_frac"] == 0.0
    assert got[3]["markup_frac"] is None
    assert got[4]["n_tags"] is None and got[4]["markup_frac"] is None


def test_round6_text_ops_survive_degenerate_docs(spark, sf_dir, monkeypatch):
    """Extend the degenerate-input contract to the round-6 operators:
    null/empty/short docs must not abort BM25, the NFC audit, the HTML
    audit, incremental dedup, or the source-overlap matrix."""
    import live_data_spark.operators.curation as cu
    import live_data_spark.operators.dedup as dd
    import live_data_spark.operators.text as tx

    rows = [
        (1, None, "en", "s1", 0),
        (2, "", "en", "s1", 0),
        (3, "spark", "en", "s2", 5),
        (4, "alpha beta gamma delta epsilon zeta eta theta", "en", "s2", 46),
    ]
    fake = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    for mod in (dd, tx, cu):
        monkeypatch.setattr(mod, "load", lambda _s, _d, _t: fake)

    bm = {r["doc_id"]: r for r in tx.text_bm25_topdocs(spark, sf_dir).collect()}
    assert set(bm) == {3} and bm[3]["n_query_terms"] == 1  # only 'spark' hits

    nfc = {r["doc_id"]: r for r in tx.text_unicode_nfc(spark, sf_dir).collect()}
    assert nfc[1]["is_nfc"] is None and nfc[2]["is_nfc"] is True

    html = {r["doc_id"]: r for r in tx.text_html_strip_stats(spark, sf_dir).collect()}
    assert html[1]["n_tags"] is None and html[2]["markup_frac"] is None

    inc = {r["decision"]: r["n_docs"] for r in dd.dedup_incremental(spark, sf_dir).collect()}
    assert sum(inc.values()) > 0  # classifies without aborting

    ov = cu.dedup_source_overlap(spark, sf_dir).collect()
    assert all(r["containment"] <= 1.0 for r in ov)


def test_collocation_pmi_invariants(spark, sf_dir):
    """Every surviving collocation clears the count floor, carries a
    finite PMI, and the cut is exactly PMI_TOP (or fewer on a tiny SF)."""
    from live_data_spark.operators.text import PMI_MIN_PAIR, PMI_TOP, text_collocation_pmi

    rows = text_collocation_pmi(spark, sf_dir).collect()
    assert 0 < len(rows) <= PMI_TOP
    import math

    for r in rows:
        assert r["n_pair"] >= PMI_MIN_PAIR
        assert math.isfinite(r["pmi"])


def test_vocab_growth_curve_shape(spark, sf_dir):
    """Both cumulative series are nondecreasing, vocabulary never exceeds
    tokens, and the final checkpoint reproduces the exact corpus totals
    (the no-window formulation must not lose mass)."""
    from pyspark.sql import functions as F

    from live_data_spark.catalog import load
    from live_data_spark.operators.text import (
        VOCAB_GROWTH_BUCKETS,
        normalized_text,
        text_vocab_growth,
    )

    rows = sorted(text_vocab_growth(spark, sf_dir).collect(), key=lambda r: r["bucket"])
    assert 0 < len(rows) <= VOCAB_GROWTH_BUCKETS
    for a, b in zip(rows, rows[1:]):
        assert b["cum_tokens"] >= a["cum_tokens"] and b["cum_vocab"] >= a["cum_vocab"]
    for r in rows:
        assert r["cum_vocab"] <= r["cum_tokens"]
    w = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select(F.explode(F.split(normalized_text("text"), " ")).alias("t"))
    )
    total, vocab = w.agg(F.count("t"), F.countDistinct("t")).first()
    assert rows[-1]["cum_tokens"] == total and rows[-1]["cum_vocab"] == vocab


def test_burstiness_bounds(spark, sf_dir):
    """Fano factors are positive and finite, the df floor holds, and a
    numpy zeros-included recompute agrees for the top term."""
    import numpy as np
    from pyspark.sql import functions as F

    from live_data_spark.catalog import load
    from live_data_spark.operators.text import (
        BURST_MIN_DF,
        BURST_TOP,
        normalized_text,
        text_term_burstiness,
    )

    rows = text_term_burstiness(spark, sf_dir).collect()
    assert 0 < len(rows) <= BURST_TOP
    for r in rows:
        assert r["df"] >= BURST_MIN_DF and r["fano"] > 0
    top = rows[0]["term"]
    w = (
        load(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.explode(F.split(normalized_text("text"), " ")).alias("t"))
    )
    n_docs = w.select("doc_id").distinct().count()
    per = {
        r["doc_id"]: r["c"]
        for r in w.where(F.col("t") == top).groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    }
    counts = np.zeros(n_docs)
    counts[: len(per)] = list(per.values())  # order-free: moments only
    fano = counts.var() / counts.mean()
    assert abs(fano - rows[0]["fano"]) < 1e-4


def test_perplexity_buckets_thirds_and_ordering(spark, sf_dir):
    """Per lang: the three buckets are equal thirds (±1 doc), bucket
    means ascend head→middle→tail, and each bucket's upper cut bounds
    its mean — the properties the CCNet-style filter policy relies on."""
    rows = catalog()["corpus_perplexity_buckets"].spark(spark, sf_dir).collect()
    by_lang: dict[str, dict[str, dict]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, lang
        sizes = [b[k]["n_docs"] for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        means = [b[k]["mean_surprisal"] for k in ("head", "middle", "tail")]
        assert means == sorted(means), (lang, means)
        for k in ("head", "middle", "tail"):
            assert b[k]["mean_surprisal"] <= b[k]["cut_surprisal"] + 1e-9
        assert b["head"]["cut_surprisal"] <= b["middle"]["cut_surprisal"] <= b["tail"]["cut_surprisal"]


def test_rake_keywords_python_replay_on_planted_corpus(spark, tmp_path):
    """RAKE semantics pinned against a pure-Python reference on a planted
    corpus that exercises the tricky cases: repeated phrases, a word
    shared across phrases (degree accumulation), and a word repeated
    WITHIN one phrase (counts once in that phrase's score — set
    semantics; but twice in the word's own freq/degree stats)."""
    import re
    from collections import defaultdict

    from live_data_spark.operators import text as t

    texts = [
        "deep neural network and deep neural network for graph learning",
        "gradient descent is noisy noisy signal on the gradient descent",
        "kernel methods kernel kernel methods",
    ]
    docs = spark.createDataFrame(
        [(i, s, "en", "s1", len(s)) for i, s in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = t.text_rake_keywords(spark, str(tmp_path)).collect()

    # reference implementation
    stop = t._STOPWORDS.split("|")
    phrases = []
    for s in texts:
        norm = re.sub(r"\s+", " ", s.lower()).strip()
        parts = re.split(r"\b(?:%s)\b" % "|".join(stop), norm)
        for p in parts:
            p = p.strip()
            if p and 2 <= len(p.split()) <= t.RAKE_MAX_WORDS:
                phrases.append(p)
    freq, degree = defaultdict(int), defaultdict(int)
    for p in phrases:
        ws = p.split()
        for wd in ws:  # every occurrence counts in the word stats
            freq[wd] += 1
            degree[wd] += len(ws)
    q = {wd: int(degree[wd] / freq[wd] * 1e8 + 0.5) for wd in freq}
    occurrences = defaultdict(int)
    for p in phrases:
        occurrences[p] += 1
    scores = {p: sum(q[wd] for wd in set(p.split())) for p in occurrences}
    want = sorted(
        ((p, len(p.split()), occurrences[p], round(scores[p] / 1e8, 4)) for p in scores),
        key=lambda r: (-scores[r[0]], -r[2], r[0]),
    )[: t.RAKE_TOP_K]
    assert [(r["phrase"], r["n_words"], r["n_occurrences"], r["score"]) for r in got] == want


def test_sparse_cosine_identical_docs_rank_first(spark, tmp_path):
    """Two identical docs share a full signature: cosine 1.0 and rank #1;
    a disjoint-vocabulary doc never pairs with them."""
    from live_data_spark.operators import text as t

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s1", len(base)),
            (2, base, "en", "s1", len(base)),
            (3, "one two three four five six seven eight nine ten", "en", "s1", 49),
            (4, "alpha beta gamma delta unrelated words here now", "en", "s1", 48),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = t.text_sparse_cosine_topk(spark, str(tmp_path)).collect()
    assert (rows[0]["doc_id_1"], rows[0]["doc_id_2"]) == (1, 2)
    assert rows[0]["cosine"] == 1.0
    pairs = {(r["doc_id_1"], r["doc_id_2"]) for r in rows}
    assert not any(3 in p and (1 in p or 2 in p) for p in pairs)


def test_readability_and_fertility_on_planted_docs(spark, tmp_path):
    """Hand-checkable FK grade and a fertility > 1 corpus (contractions
    and punctuation split into extra pretokens; the sentence floor
    catches the fragment doc)."""
    from live_data_spark.operators import text as t

    docs = spark.createDataFrame(
        [
            # "go now. stop here! done?" → 3 sentences, 5 words, 7 vowel runs
            # (go:1 now:1 stop:1 he-re:2 do-ne:2)
            (1, "go now. stop here! done?", "en", "s1", 24),
            (2, "fragment without terminal punctuation", "en", "s1", 37),
            (3, "don't stop, can't wait!", "en", "s1", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    read = {r["doc_id"]: r for r in t.text_readability(spark, str(tmp_path)).collect()}
    assert (read[1]["n_sentences"], read[1]["n_words"], read[1]["n_syllables"]) == (3, 5, 7)
    assert read[1]["fk_grade"] == round(0.39 * (5 / 3) + 11.8 * (7 / 5) - 15.59, 4)
    assert read[2]["n_sentences"] == 1  # fragment floor

    fert = {r["lang"]: r for r in t.tokenizer_fertility_by_lang(spark, str(tmp_path)).collect()}
    # doc 3 alone: don|'t|stop|,|can|'t|wait|! = 8 pretokens over 4 words
    assert fert["en"]["fertility"] > 1.0


def test_heldout_perplexity_detects_template_memorization(spark, tmp_path):
    """A corpus whose train split is one repeated template while eval
    docs are novel text: held-out perplexity far above train perplexity
    (gap >> 1) and a positive OOV rate."""
    from live_data_spark.operators.text import corpus_heldout_perplexity

    # doc_ids whose md5 prefix routes to each split (split rule is public)
    import hashlib

    train_ids, eval_ids = [], []
    i = 0
    while len(train_ids) < 30 or len(eval_ids) < 8:
        (train_ids if hashlib.md5(str(i).encode()).hexdigest()[:2] < "e6" else eval_ids).append(i)
        i += 1
    template = "alpha beta gamma delta " * 10
    docs = [(d, template, "en", "s1", len(template)) for d in train_ids[:30]]
    docs += [
        (d, f"novel words here unseen{j} tokens flowing", "en", "s1", 40)
        for j, d in enumerate(eval_ids[:8])
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    r = corpus_heldout_perplexity(spark, str(tmp_path)).collect()[0]
    assert r["n_train_docs"] == 30 and r["n_eval_docs"] == 8
    assert r["train_ppl"] < 2.0  # one template: nearly deterministic
    assert r["generalization_gap"] > 2.0
    assert r["oov_rate"] > 0.5


def test_burrows_delta_separates_styles(spark, tmp_path):
    """Two sources writing in the same style (identical function-word
    rates) sit at Delta ~0 while a third with inverted rates is far
    from both — and same-style distance is strictly the smallest."""
    from live_data_spark.operators import text as t

    style_a = "the cat is on the mat and the dog is in the house for a while "
    style_b = "cat mat dog house while red green blue deep blue nine lives cat "
    docs = []
    i = 0
    for src, style in (("s1", style_a), ("s2", style_a), ("s3", style_b)):
        for _ in range(10):
            docs.append((i, style * 3, "en", src, len(style) * 3))
            i += 1
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["source_1"], r["source_2"]): r["delta"]
        for r in t.text_burrows_delta(spark, str(tmp_path)).collect()
    }
    assert got[("s1", "s2")] == 0.0  # identical style → identical z-profiles
    assert got[("s1", "s3")] > 1.0
    assert got[("s1", "s3")] == got[("s2", "s3")]
    # Magnitude pin for the literature normalization (z = dev/sigma_pop):
    # with two identical sources and one divergent, every marker whose
    # rates differ has the two-equal-one-different shape, for which
    # |z_same − z_diff| = 3/√2 regardless of the rate gap — so Delta is
    # EXACTLY 3/√2 ≈ 2.1213. The pre-fix form (÷√n_sources extra) gave
    # 1.2247 here and would shrink further with more sources.
    assert abs(got[("s1", "s3")] - 2.1213) < 2e-4
