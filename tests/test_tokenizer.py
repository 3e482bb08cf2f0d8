"""BPE trainer/encoder parity vs an independent pure-Python reference.

The trainer is iterative-argmax (no SQL oracle), so exactness is pinned
here: the full learned merge SEQUENCE must equal a from-scratch
Sennrich-style reference (same tie-break: max count, then lexicographically
smallest pair), and the encoder's per-doc counts must equal driver-side
greedy merging. ``bpe_pair_stats`` is oracle-covered by
tests/test_oracle_parity.py like every other oracle-bearing entry.
"""

from __future__ import annotations

from collections import Counter

import pytest

from live_data_spark.operators import tokenizer as tk


# --- independent reference implementation (not the module under test) ----

def _ref_train(word_freqs: dict[str, int], n_merges: int):
    """Sennrich-style BPE over word types; returns [(left, right, count)]."""
    vocab = {tuple(list(w) + [tk.END_MARK]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        # tie-break identical to the Spark orderBy: count DESC, left ASC,
        # right ASC
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0][0]
        merges.append((best[0], best[1], counts[best]))
        a, b = best
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def _write_docs(spark, tmp_path, texts):
    docs = spark.createDataFrame(
        [(i, s, "en", "s", len(s) if s else 0) for i, s in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


CLASSIC = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest widest",
    "widest widest low lower",
]


def test_bpe_train_matches_reference_sequence(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, CLASSIC)
    wf = Counter(w for t in CLASSIC for w in t.split())
    want = _ref_train(dict(wf), 12)
    got = tk.bpe_train(spark, sf, n_merges=12)
    assert got == want, f"merge sequences diverge:\nspark={got}\nref  ={want}"


def test_bpe_train_overlapping_pair_merges_left_to_right(spark, tmp_path):
    """'aaa b' — merging (a,a) must yield ['aa','a'], not ['a','aa'] or
    ['aa','aa']: the fold's greedy left-to-right contract."""
    sf = _write_docs(spark, tmp_path, ["aaaa aaa aaaa", "aaa aaaa b"])
    wf = Counter(w for t in ["aaaa aaa aaaa", "aaa aaaa b"] for w in t.split())
    want = _ref_train(dict(wf), 6)
    got = tk.bpe_train(spark, sf, n_merges=6)
    assert got == want


def test_bpe_train_degenerate_inputs_no_abort(spark, tmp_path):
    """Nulls, empty docs, 1-char words, whitespace-only docs: the trainer
    must neither abort (ANSI element_at) nor learn phantom merges."""
    sf = _write_docs(spark, tmp_path, [None, "", "   ", "a b c", "a a b"])
    got = tk.bpe_train(spark, sf, n_merges=4)
    # only pairs involving the END_MARK exist for 1-char words
    assert all(r == tk.END_MARK for _, r, _ in got)
    assert got[0][0] == "a" and got[0][2] == 3  # 'a' appears 3 times


def test_bpe_encode_matches_driver_side_python(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, CLASSIC + ["", None, "unseen zzz qq"])
    merges = tk.bpe_train(spark, sf)
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}
    got = {r["doc_id"]: r for r in tk.bpe_encode_stats(spark, sf).collect()}
    texts = CLASSIC + ["", None, "unseen zzz qq"]
    for i, t in enumerate(texts):
        words = [w for w in (t or "").split() if w]
        want = sum(tk.encode_word(w, ranks) for w in words)
        assert got[i]["n_bpe_tokens"] == want, (i, t)
        assert got[i]["n_words"] == len(words)
        if not words:
            assert got[i]["bpe_per_word"] is None


def test_bpe_encode_classic_fixture_handcheck(spark, tmp_path):
    """Hand-verified: corpus of only 'ab ab ab' learns (a,b) then
    (ab,</w>) — every 'ab' word then encodes to exactly ONE token."""
    sf = _write_docs(spark, tmp_path, ["ab ab ab"])
    merges = tk.bpe_train(spark, sf, n_merges=2)
    assert [(m[0], m[1]) for m in merges] == [("a", "b"), ("ab", tk.END_MARK)]
    row = tk.bpe_encode_stats(spark, sf).first()
    assert row["n_bpe_tokens"] == 3 and row["n_words"] == 3
    assert row["bpe_per_word"] == pytest.approx(1.0)
