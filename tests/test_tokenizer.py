"""Pin the distributed BPE learner/encoder against an independent
recount-from-scratch reference implementation.

The operator (operators/tokenizer.py) maintains incremental pair-count
bookkeeping so each merge touches only affected word types; the reference
here recomputes ALL pair counts from the current vocabulary on every
iteration — a different algorithm implementing the same spec (Sennrich
2016 merge rule, count-desc/pair-lex-asc tie order, min_frequency stop).
Identical merge lists + identical token sequences therefore cross-validate
the bookkeeping, the truncation, and the encode rule end to end.
"""

from __future__ import annotations

from collections import Counter

EOW = "</w>"


# ---------------------------------------------------------------- reference
def _ref_merge_word(syms, pair, joined):
    out, i = [], 0
    while i < len(syms):
        if i < len(syms) - 1 and (syms[i], syms[i + 1]) == pair:
            out.append(joined)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_learn(word_counts: dict[str, int], num_merges: int, min_frequency=2):
    """Full recount every iteration — O(V·L) per merge, spec-exact."""
    vocab = {tuple(list(w) + [EOW]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        stats = Counter()
        for w, c in vocab.items():
            for p in zip(w, w[1:]):
                stats[p] += c
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if stats[best] < min_frequency:
            break
        merges.append(best)
        joined = best[0] + best[1]
        vocab = {
            _ref_merge_word(w, best, joined): c for w, c in vocab.items()
        }
    return merges


def _ref_encode_word(word: str, ranks) -> list[str]:
    syms = tuple(list(word) + [EOW])
    while len(syms) > 1:
        ranked = [
            (ranks[p], p) for p in zip(syms, syms[1:]) if p in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        syms = _ref_merge_word(syms, best, best[0] + best[1])
    return list(syms)


def _ref_encode_doc(text: str, ranks) -> list[str]:
    out = []
    for w in text.split(" "):
        if w:
            out.extend(_ref_encode_word(w, ranks))
    return out


# -------------------------------------------------------------------- tests
def test_bpe_toy_merges_hand_computed():
    """The paper's worked example shape: with {low×5, lower×2, newest×6,
    widest×3} the first merges must be (e,s) then (es,t) then (est,</w>)
    — 'est' dominates every other pair (9 occurrences)."""
    from n2kupdate_spark.operators.tokenizer import _learn_merges_from_types

    counts = [("newest", 6), ("low", 5), ("widest", 3), ("lower", 2)]
    merges = _learn_merges_from_types(counts, num_merges=3, min_frequency=2)
    assert merges == [("e", "s"), ("es", "t"), ("est", EOW)], merges
    assert merges == _ref_learn(dict(counts), 3)


def test_bpe_corpus_merges_and_tokens_pinned(spark, sf_dir):
    """Operator vs reference on the real corpus: identical merge list
    (incremental bookkeeping == full recount) and identical per-doc token
    sequences (distributed cached encode == plain per-word encode)."""
    from n2kupdate_spark.operators.tokenizer import bpe_encode, learn_bpe_merges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = docs.collect()
    wc = Counter()
    for r in rows:
        for w in r["text"].split(" "):
            if w:
                wc[w] += 1

    merges = learn_bpe_merges(docs, num_merges=200)
    assert merges == _ref_learn(dict(wc), 200), "merge lists diverge"
    assert len(merges) > 50  # the corpus must actually exercise the loop

    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert len(got) == len(rows)
    for r in rows:
        assert got[r["doc_id"]] == _ref_encode_doc(r["text"], ranks), r[
            "doc_id"
        ]


def test_bpe_encode_round_trip(spark, sf_dir):
    """Concatenating a doc's subwords and splitting on the end-of-word
    marker reconstructs its words exactly — encoding loses nothing."""
    from n2kupdate_spark.operators.tokenizer import bpe_encode, learn_bpe_merges

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    merges = learn_bpe_merges(docs, num_merges=80)
    for r in bpe_encode(docs, merges).join(docs, "doc_id").collect():
        words = [w for w in r["text"].split(" ") if w]
        joined = "".join(r["bpe_tokens"])
        assert joined == "".join(w + EOW for w in words), r["doc_id"]


def test_bpe_truncation_and_unseen_words(spark, sf_dir):
    """max_word_types truncation is the documented deterministic top-K:
    learning on the truncated type table equals the reference learner fed
    the same top-K slice; and a word the learner never saw still encodes
    (chars stay base symbols)."""
    from n2kupdate_spark.operators.tokenizer import (
        _encode_word,
        learn_bpe_merges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    wc = Counter()
    for r in docs.collect():
        for w in r["text"].split(" "):
            if w:
                wc[w] += 1
    top = dict(
        sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    )
    merges = learn_bpe_merges(docs, num_merges=60, max_word_types=100)
    assert merges == _ref_learn(top, 60)

    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word("zzqxunseen", ranks)
    assert "".join(toks) == "zzqxunseen" + EOW


def test_bpe_empty_and_degenerate(spark):
    """Empty text -> zero tokens; single repeated char merges down to one
    symbol via the greedy left-to-right rule."""
    from n2kupdate_spark.operators.tokenizer import (
        _learn_merges_from_types,
        _merge_in_word,
        bpe_encode,
    )

    assert _merge_in_word(("a", "a", "a"), ("a", "a"), "aa") == ("aa", "a")
    merges = _learn_merges_from_types([("aa", 4)], 5, min_frequency=2)
    # 'aa</w>': (a,a) ties (a,</w>)? pairs: (a,a)x1·4, (a,</w>)x1·4 — lex
    # order puts (a,</w>) first ('<' < 'a').
    assert merges[0] == ("a", EOW)

    df = spark.createDataFrame(
        [(1, ""), (2, "  "), (3, "ab")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in bpe_encode(df, [("a", "b")]).collect()
    }
    assert got[1] == ([], 0)
    assert got[2] == ([], 0)
    assert got[3] == (["ab", EOW], 2)


def test_vocab_drift_pinned(spark, sf_dir):
    """diag_vocab_drift: every (rank_old, rank_new, status) recomputed
    from two independent reference-learner runs; statuses must cover the
    diff cases and the table must be exactly the union of both vocabs
    keyed by subword (lowest rank wins on join-collisions)."""
    from n2kupdate_spark.queries import QUERIES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = docs.collect()
    # percentile_approx at 0.5 returns an actual doc_id; use the query's
    # own midpoint expression instead of assuming a formula
    from pyspark.sql import functions as F

    mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]

    def counts(pred):
        c = Counter()
        for r in rows:
            if pred(r["doc_id"]):
                for w in r["text"].split(" "):
                    if w:
                        c[w] += 1
        return dict(c)

    old = _ref_learn(counts(lambda i: i < mid), 150)
    new = _ref_learn(counts(lambda i: True), 150)
    ra, rb = {}, {}
    for i, (a, b) in enumerate(old):
        ra.setdefault(a + b, i)
    for i, (a, b) in enumerate(new):
        rb.setdefault(a + b, i)
    want = {}
    for m in set(ra) | set(rb):
        ia, ib = ra.get(m), rb.get(m)
        want[m] = (
            ia,
            ib,
            "added"
            if ia is None
            else "dropped"
            if ib is None
            else "shifted"
            if ia != ib
            else "stable",
        )

    got_rows = QUERIES["diag_vocab_drift"](spark, sf_dir).collect()
    got = {
        r["merged"]: (r["rank_old"], r["rank_new"], r["status"])
        for r in got_rows
    }
    assert got == want
    assert len(got_rows) == len(got)  # no duplicate subword rows
    statuses = {r["status"] for r in got_rows}
    assert "stable" in statuses and len(statuses) >= 2, statuses


# ---------------------------------------------------- property (hypothesis)
from hypothesis import given, settings
from hypothesis import strategies as st

WORDS = st.dictionaries(
    st.text(alphabet="abcde", min_size=1, max_size=8),
    st.integers(min_value=1, max_value=50),
    min_size=1,
    max_size=25,
)


@given(wc=WORDS, n=st.integers(min_value=0, max_value=40))
@settings(max_examples=150, deadline=None)
def test_bpe_incremental_equals_recount_property(wc, n):
    """For ARBITRARY word-count tables the incremental learner must equal
    the recount-from-scratch reference — merge list identical, including
    stop behavior (min_frequency) and tie ordering."""
    from n2kupdate_spark.operators.tokenizer import _learn_merges_from_types

    rows = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    assert _learn_merges_from_types(rows, n, 2) == _ref_learn(wc, n)


@given(wc=WORDS)
@settings(max_examples=80, deadline=None)
def test_bpe_training_words_reach_final_form_property(wc):
    """The defining BPE property: encoding a TRAINING word with the full
    learned merge list reproduces exactly the symbol sequence the
    training loop left that word in (inference replays training)."""
    from n2kupdate_spark.operators.tokenizer import (
        _encode_word,
        _learn_merges_from_types,
        _merge_in_word,
    )

    rows = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    merges = _learn_merges_from_types(rows, 200, 2)
    ranks = {p: i for i, p in enumerate(merges)}
    # replay training transformations per word
    final = {}
    for w in wc:
        syms = tuple(list(w) + [EOW])
        for p in merges:
            syms = _merge_in_word(syms, p, p[0] + p[1])
        final[w] = syms
    for w in wc:
        assert _encode_word(w, ranks) == final[w], w


def test_pack_sequences_bpe_pinned(spark, sf_dir):
    """Tokenizer-aware packing pin (r10): the composed operator's full
    placement map must equal the independent python chain — reference
    BPE learn (recount-from-scratch) → reference encode (per-doc token
    counts) → reference BFD per (source, chunk) with the operator's
    exact chunking and tie rules — at a tiny chunk_docs too, and every
    realized bin must respect the budget in BPE tokens. The registered
    query's per-source summary must be the exact arithmetic of that map
    (192-token bins, whitespace totals included for the fertility gap)."""
    from n2kupdate_spark.operators.corpus import pack_sequences_bpe as pbpe
    from n2kupdate_spark.operators.tokenizer import learn_bpe_merges
    from n2kupdate_spark.queries import QUERIES
    from n2kupdate_spark.sources import load

    budget, num_merges = 192, 200
    d = load(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    rows = d.collect()

    # independent chain: learn (reference), count (reference encode)
    wc = Counter(w for r in rows for w in r["text"].split(" ") if w)
    ref_merges = _ref_learn(dict(wc), num_merges)
    assert learn_bpe_merges(d, num_merges) == ref_merges, "learn diverged"
    ranks = {p: i for i, p in enumerate(ref_merges)}
    word_len = {w: len(_ref_encode_word(w, ranks)) for w in wc}
    ref_counts = {
        r["doc_id"]: sum(word_len[w] for w in r["text"].split(" ") if w)
        for r in rows
    }
    src_of = {r["doc_id"]: r["source"] for r in rows}

    from tests.test_mlprep_props import _bfd_reference

    for chunk_docs in (4096, 8):
        got = {
            r["doc_id"]: (r["source"], r["n_bpe_tokens"], r["seq_id"], r["overflow"])
            for r in pbpe(
                d,
                budget=budget,
                group_col="source",
                chunk_docs=chunk_docs,
                merges=ref_merges,
            ).collect()
        }
        assert len(got) == len(rows)
        by_src: dict[str, list] = {}
        for did, n in ref_counts.items():
            by_src.setdefault(src_of[did], []).append((did, n))
        want = {}
        for src, items in by_src.items():
            ordered = sorted(items, key=lambda t_: (-t_[1], t_[0]))
            for ci in range(0, len(ordered), chunk_docs):
                chunk = ci // chunk_docs
                ref = _bfd_reference(ordered[ci : ci + chunk_docs], budget)
                for did, (b, ov) in ref.items():
                    want[did] = (src, chunk * chunk_docs + b, ov)
        for did, (src, toks, seq, ov) in got.items():
            assert toks == ref_counts[did], (did, toks, ref_counts[did])
            assert want[did] == (src, seq, ov), (did, got[did], want[did])
        fills: dict[tuple, int] = {}
        for did, (src, toks, seq, ov) in got.items():
            if not ov:
                fills[(src, seq)] = fills.get((src, seq), 0) + toks
        assert fills and all(v <= budget for v in fills.values())

    # registered query summary = arithmetic over the chunk_docs=4096 map
    ws_tot: dict[str, int] = {}
    for r in rows:
        ws_tot[r["source"]] = ws_tot.get(r["source"], 0) + len(
            r["text"].split(" ")
        )
    summary = {
        r["source"]: (
            r["n_docs"], r["n_seqs"], r["total_bpe_tokens"],
            r["total_ws_tokens"], r["fill_ratio"], r["n_overflow"],
        )
        for r in QUERIES["pack_sequences_bpe"](spark, sf_dir).collect()
    }
    for src, items in by_src.items():
        ref = _bfd_reference(sorted(items, key=lambda t_: (-t_[1], t_[0])), budget)
        n_seqs = len({b for b, _ in ref.values()})
        tot = sum(tk for _, tk in items)
        exp_fill = round(tot / (n_seqs * budget) * 10000) / 10000
        n_over = sum(1 for _, ov in ref.values() if ov)
        assert summary[src] == (
            len(items), n_seqs, tot, ws_tot[src], exp_fill, n_over
        ), (src, summary[src])


def test_prepare_corpus_pack_method_bpe_pinned(spark):
    """r11 (r10 verdict item 4): prepare_corpus(pack_method="bpe") must
    equal the independent stage-by-stage composition — gate_documents →
    learn_bpe_merges on the survivors → bpe_encode → apply_mixture →
    pack_sequences → summary — at two sfs (gram/vocab structure is
    scale-sensitive). Also pins that the stage is LIVE (BPE totals differ
    from whitespace totals on real text), that a caller-supplied frozen
    merge list short-circuits the learn, and that an unknown pack_method
    raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators.corpus import (
        apply_mixture,
        gate_documents,
        pack_sequences,
        prepare_corpus,
    )
    from n2kupdate_spark.operators.tokenizer import bpe_encode, learn_bpe_merges
    from n2kupdate_spark.sources import load

    weights, default_w = {"src0": 2.0}, 1.0

    def summarize(packed, budget=512):
        return {
            r.source: (r.n_docs, r.n_rows, r.total_tokens, r.n_sequences)
            for r in packed.groupBy("source")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                F.ceil(F.sum("n_tokens") / F.lit(float(budget)))
                .cast("int")
                .alias("n_sequences"),
            )
            .collect()
        }

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        d = load(spark, sf, "documents")
        is_eval = F.expr("doc_id % 97 = 0")
        train, evald = d.filter(~is_eval), d.filter(is_eval)

        got = {
            r.source: (r.n_docs, r.n_rows, r.total_tokens, r.n_sequences)
            for r in prepare_corpus(
                train, evald, weights, default_w, pack_method="bpe"
            ).collect()
        }

        # independent composition from the component operators
        exact = gate_documents(train, evald)
        merges = learn_bpe_merges(exact, 200)
        enc = bpe_encode(
            exact.select("doc_id", "source", "text"),
            merges,
            carry_cols=("source",),
        ).select("doc_id", "source", F.col("n_bpe_tokens").alias("n_tokens"))
        mixed = apply_mixture(enc, weights, default_w, "doc_id", "source")
        packed = pack_sequences(
            mixed, budget=512, group_col="source",
            order_cols=("doc_id", "copy_n"), token_col="n_tokens",
        )
        want = summarize(packed)
        assert got == want, sf

        # the stage is live: at a starved merge budget words stay
        # fragmented, so BPE totals must EXCEED whitespace totals (at the
        # default 200 merges the tiny fixture fully merges every word and
        # the two counts legitimately coincide — not a liveness signal)
        ws = {
            r.source: r.total_tokens
            for r in prepare_corpus(train, evald, weights, default_w).collect()
        }
        starved = {
            r.source: r.total_tokens
            for r in prepare_corpus(
                train, evald, weights, default_w,
                pack_method="bpe", bpe_num_merges=5,
            ).collect()
        }
        assert all(starved[s] > ws[s] for s in starved), sf

        # frozen-tokenizer path: supplying the same merges reproduces it
        frozen = {
            r.source: (r.n_docs, r.n_rows, r.total_tokens, r.n_sequences)
            for r in prepare_corpus(
                train, evald, weights, default_w,
                pack_method="bpe", bpe_merges=merges,
            ).collect()
        }
        assert frozen == got, sf

    with _pytest.raises(ValueError, match="pack_method"):
        prepare_corpus(
            train, evald, weights, default_w, pack_method="wordpiece"
        ).collect()


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (r12). Independence of the reference: the library
# E-step is forward-backward over the lattice and its Viterbi is DP with
# backpointers; the reference below ENUMERATES every segmentation of every
# word (exact, exponential — the test corpus words are bounded) for both
# the expected counts and the argmax, sharing zero lattice code.
# ---------------------------------------------------------------------------


def _enum_segs(word, in_vocab, max_len=10):
    """All segmentations of ``word`` into pieces satisfying ``in_vocab``
    (single chars always allowed — mirrors the library's unk floor)."""
    if word == "":
        yield ()
        return
    for k in range(1, min(max_len, len(word)) + 1):
        head = word[:k]
        if k == 1 or in_vocab(head):
            for rest in _enum_segs(word[k:], in_vocab, max_len):
                yield (head,) + rest


def _ref_expected_counts(type_counts, prob):
    """Enumeration E-step: marginal expected piece counts, exactly."""
    expected = {}
    for w, c in type_counts:
        segs, weights = [], []
        for seg in _enum_segs(w, lambda p: p in prob):
            prod = 1.0
            for p in seg:
                prod *= prob.get(p, 0.0)
            if prod > 0.0:
                segs.append(seg)
                weights.append(prod)
        z = sum(weights)
        if z <= 0.0:
            continue
        for seg, wt in zip(segs, weights):
            for p in seg:
                expected[p] = expected.get(p, 0.0) + c * wt / z
    return expected


def _ref_viterbi(word, logp, unk):
    """Enumeration argmax: best (score, pieces-multiset). Scores sum
    left-to-right like the DP, so equal-score comparisons are exact."""
    best_score, best_seg = float("-inf"), None
    for seg in _enum_segs(word, lambda p: p in logp):
        s = 0.0
        for p in seg:
            s += logp[p] if p in logp else unk
        if s > best_score:
            best_score, best_seg = s, seg
    return best_seg, best_score


def _ref_learn_unigram(type_counts, vocab_size, seed_size=2000,
                       em_iters=2, keep_frac=0.75):
    """Reference trainer: the published loop re-derived with the
    enumeration E-step/argmax above in place of the library's lattice
    passes. Seeding/prune bookkeeping recomputed from the spec."""
    import math

    chars = sorted({ch for w, _ in type_counts for ch in w})
    sub = {}
    for w, c in type_counts:
        for i in range(len(w)):
            for k in range(2, min(10, len(w) - i) + 1):
                s = w[i:i + k]
                sub[s] = sub.get(s, 0) + c
    multi = [s for s, _ in sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]]
    ch_counts = {}
    for w, c in type_counts:
        for ch in w:
            ch_counts[ch] = ch_counts.get(ch, 0) + c
    tot = float(sum(ch_counts.values()) + sum(sub[s] for s in multi))
    prob = {ch: ch_counts[ch] / tot for ch in chars}
    prob.update({s: sub[s] / tot for s in multi})

    def em(prob, iters):
        for _ in range(iters):
            exp = _ref_expected_counts(type_counts, prob)
            total = sum(exp.values())
            if total <= 0.0:
                return prob
            floor = total * 1e-12
            new = {}
            for p in prob:
                e = exp.get(p, 0.0)
                if len(p) == 1:
                    e = max(e, floor)
                if e > 0.0:
                    new[p] = e
            denom = sum(new.values())
            prob = {p: v / denom for p, v in new.items()}
        return prob

    target_multi = max(0, vocab_size - len(chars))
    while True:
        prob = em(prob, em_iters)
        cur_multi = [p for p in prob if len(p) > 1]
        if len(cur_multi) <= target_multi:
            break
        logp = {p: math.log(v) for p, v in prob.items() if v > 0.0}
        unk = min(logp.values()) - 10.0
        loss = {p: 0.0 for p in cur_multi}
        for w, c in type_counts:
            seg, score = _ref_viterbi(w, logp, unk)
            for piece in set(seg):
                if len(piece) <= 1:
                    continue
                saved = logp.pop(piece)
                _, alt = _ref_viterbi(w, logp, unk)
                logp[piece] = saved
                loss[piece] = loss.get(piece, 0.0) + c * (score - alt)
        keep = max(target_multi, int(len(cur_multi) * keep_frac))
        survivors = set(
            p for p, _ in sorted(loss.items(), key=lambda kv: (-kv[1], kv[0]))[:keep]
        )
        prob = {p: v for p, v in prob.items() if len(p) == 1 or p in survivors}
        s = sum(prob.values())
        prob = {p: v / s for p, v in prob.items()}
    prob = em(prob, 1)
    return sorted(((p, math.log(v)) for p, v in prob.items() if v > 0.0),
                  key=lambda kv: (-kv[1], kv[0]))


def test_unigram_toy_vocab_and_floor():
    """Hand-checkable corpus: whole words win the vocabulary, ranked by
    frequency; every single character survives at the floor; training is
    deterministic run to run."""
    from n2kupdate_spark.operators.tokenizer import _learn_unigram_from_types

    tc = [("hello", 10), ("help", 6), ("low", 4), ("lower", 3), ("hell", 2)]
    vocab = _learn_unigram_from_types(tc, vocab_size=12, seed_size=50)
    pieces = [p for p, _ in vocab]
    assert pieces[:5] == ["hello", "help", "low", "lower", "hell"]
    assert set("helopwr") <= set(pieces)
    assert len(vocab) == 12
    assert vocab == _learn_unigram_from_types(tc, vocab_size=12, seed_size=50)
    # probabilities descend and are log-space
    lps = [lp for _, lp in vocab]
    assert lps == sorted(lps, reverse=True) and all(lp < 0 for lp in lps)


def test_unigram_vocab_matches_enumeration_reference(spark):
    """Full-training equivalence at TWO sfs: the library's lattice EM +
    DP-Viterbi pruning must land on the identical piece set with
    probabilities equal to the enumeration reference within float
    accumulation tolerance."""
    import pytest as _pytest

    from n2kupdate_spark.operators.tokenizer import learn_unigram_vocab
    from n2kupdate_spark.sources import load

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load(spark, sf, "documents", columns=["text"])
        got = learn_unigram_vocab(docs, vocab_size=40, seed_size=300)
        tc = sorted(
            (
                (r["w"], r["c"])
                for r in docs.selectExpr("explode(split(text, ' ')) AS w")
                .where("w <> ''")
                .groupBy("w")
                .count()
                .withColumnRenamed("count", "c")
                .collect()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert max(len(w) for w, _ in tc) <= 16  # enumeration stays exact
        want = _ref_learn_unigram(tc, vocab_size=40, seed_size=300)
        assert [p for p, _ in got] == [p for p, _ in want], sf
        for (pg, lg), (pw, lw) in zip(got, want):
            assert lg == _pytest.approx(lw, rel=1e-9, abs=1e-9), (sf, pg)


def test_unigram_encode_round_trip_and_viterbi(spark, sf_dir):
    """Encode pins: (1) concatenating a word's pieces reproduces the word
    (no EOW marker by construction); (2) every word's segmentation is an
    enumeration-verified argmax (same score, same piece multiset);
    (3) unseen characters fall back to the unk floor instead of failing;
    (4) n_ug_tokens matches the array length."""
    from pyspark.sql import functions as F

    from n2kupdate_spark.operators.tokenizer import (
        learn_unigram_vocab,
        unigram_encode,
    )
    from n2kupdate_spark.sources import load

    docs = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    vocab = learn_unigram_vocab(docs, vocab_size=40, seed_size=300)
    logp = dict(vocab)
    unk = min(logp.values()) - 10.0

    enc = {r["doc_id"]: (list(r["ug_tokens"]), r["n_ug_tokens"])
           for r in unigram_encode(docs, vocab).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert enc.keys() == texts.keys()
    checked_words = set()
    for did in sorted(enc):
        toks, n = enc[did]
        assert n == len(toks)
        words = [w for w in texts[did].split(" ") if w]
        # greedy re-split of the token stream back into words
        it = iter(toks)
        for w in words:
            built = ""
            while len(built) < len(w):
                built += next(it)
            assert built == w
            if w not in checked_words:
                checked_words.add(w)
                ref_seg, ref_score = _ref_viterbi(w, logp, unk)
                lib_score = sum(logp.get(p, unk) for p in _lib_seg(w, logp, unk))
                assert lib_score == ref_score or abs(lib_score - ref_score) < 1e-12
        assert next(it, None) is None  # token stream fully consumed

    # unseen chars: a word with characters absent from training
    extra = spark.createDataFrame([(10**6, "zq!! batch")], ["doc_id", "text"])
    row = unigram_encode(extra, vocab).collect()[0]
    assert "".join(row["ug_tokens"]).replace("batch", "") == "zq!!"


def _lib_seg(w, logp, unk):
    from n2kupdate_spark.operators.tokenizer import _viterbi_word

    return _viterbi_word(w, logp, unk)[0]


# ---------------------------------------------------------------------------
# WordPiece (r12). Reference independence: the naive learner below
# recounts pair/unit frequencies FROM SCRATCH after every merge (the
# O(V·L)-per-merge spec form) vs the library's incremental bookkeeping,
# and the encode check re-derives greedy longest-match by brute force.
# ---------------------------------------------------------------------------


def _ref_learn_wordpiece(type_counts, num_merges, min_frequency=2):
    from n2kupdate_spark.operators.tokenizer import (
        _merge_in_word,
        _wp_join,
        _wp_units,
    )

    words = {i: _wp_units(w) for i, (w, _) in enumerate(type_counts)}
    freqs = {i: c for i, (_, c) in enumerate(type_counts)}
    base = sorted({u for w in words.values() for u in w})
    merged = []
    for _ in range(num_merges):
        pair_n, unit_n = {}, {}
        for i, w in words.items():
            for u in w:
                unit_n[u] = unit_n.get(u, 0) + freqs[i]
            for p in zip(w, w[1:]):
                pair_n[p] = pair_n.get(p, 0) + freqs[i]
        best, best_score = None, 0.0
        for p, c in sorted(pair_n.items()):
            if c < min_frequency:
                continue
            s = c / (unit_n[p[0]] * unit_n[p[1]])
            if best is None or s > best_score:
                best, best_score = p, s
        if best is None:
            break
        joined = _wp_join(*best)
        merged.append(joined)
        words = {i: _merge_in_word(w, best, joined) for i, w in words.items()}
    return base + merged


def test_wordpiece_learner_matches_naive_recount(spark):
    """Library incremental learner ≡ recount-from-scratch reference on
    the fixture corpus at two sfs, plus the score rule on a hand case:
    with counts the(10), th(2) — pair ('t','##h') has count 12 but score
    12/(12·12); ('th','##e')-style low-frequency pairs with rarer units
    can win, which is exactly WordPiece's departure from BPE."""
    from n2kupdate_spark.operators.tokenizer import (
        _learn_wordpiece_from_types,
        learn_wordpiece_vocab,
    )
    from n2kupdate_spark.sources import load

    tc = [("the", 10), ("th", 2), ("ten", 5), ("net", 4)]
    assert _learn_wordpiece_from_types(tc, 6) == _ref_learn_wordpiece(tc, 6)

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load(spark, sf, "documents", columns=["text"])
        got = learn_wordpiece_vocab(docs, num_merges=120)
        tc = sorted(
            (
                (r["w"], r["c"])
                for r in docs.selectExpr("explode(split(text, ' ')) AS w")
                .where("w <> ''")
                .groupBy("w")
                .count()
                .withColumnRenamed("count", "c")
                .collect()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == _ref_learn_wordpiece(tc, 120), sf


def test_wordpiece_score_differs_from_bpe_choice():
    """The likelihood-ratio score must actually change the merge order
    vs raw pair frequency on a corpus built to split them: pair (a,b)
    is the most FREQUENT, but both units are ubiquitous, so the rarer
    exclusive pair (x,y) scores higher and merges first."""
    from n2kupdate_spark.operators.tokenizer import (
        _learn_merges_from_types,
        _learn_wordpiece_from_types,
    )

    # 'ab' appears in many words (units a,b very common); 'xy' only as
    # its own word (units exclusive to each other)
    tc = [("ab", 30), ("ac", 25), ("bc", 25), ("xy", 6)]
    # score('x','##y') = 6/(6·6) = 0.167 beats ('a','##b') = 30/(55·30)
    wp = _learn_wordpiece_from_types(tc, 1, min_frequency=2)
    assert wp[-1] == "xy"
    bpe = _learn_merges_from_types(tc, 1, min_frequency=2)
    assert bpe[0] != ("x", "y")  # BPE picks the frequent pair instead


def test_wordpiece_encode_greedy_and_unk(spark, sf_dir):
    """Encode pins: (1) greedy longest-match-first against a brute-force
    re-derivation for every distinct fixture word; (2) concatenating
    pieces (## stripped) reproduces the word; (3) a word with an unseen
    character becomes exactly [UNK]; (4) counts match array lengths."""
    from n2kupdate_spark.operators.tokenizer import (
        WP_CONT,
        WP_UNK,
        learn_wordpiece_vocab,
        wordpiece_encode,
    )
    from n2kupdate_spark.sources import load

    docs = load(spark, sf_dir, "documents", columns=["doc_id", "text"])
    vocab = learn_wordpiece_vocab(docs, num_merges=120)
    vset = set(vocab)

    def brute(word):
        out, i = [], 0
        while i < len(word):
            matches = [
                j
                for j in range(len(word), i, -1)
                if ((WP_CONT if i else "") + word[i:j]) in vset
            ]
            if not matches:
                return [WP_UNK]
            j = max(matches)
            out.append((WP_CONT if i else "") + word[i:j])
            i = j
        return out

    enc = {r["doc_id"]: (list(r["wp_tokens"]), r["n_wp_tokens"])
           for r in wordpiece_encode(docs, vocab).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    seen_words = set()
    for did, (toks, n) in enc.items():
        assert n == len(toks)
        it = iter(toks)
        for w in (x for x in texts[did].split(" ") if x):
            if w in seen_words:
                # consume this word's pieces from the stream
                built = ""
                while len(built) < len(w):
                    t = next(it)
                    built += t[len(WP_CONT):] if t.startswith(WP_CONT) else t
                continue
            seen_words.add(w)
            want = brute(w)
            got, built = [], ""
            while len(built) < len(w):
                t = next(it)
                got.append(t)
                if t == WP_UNK:
                    built = w  # UNK consumes the word
                else:
                    built += t[len(WP_CONT):] if t.startswith(WP_CONT) else t
            assert got == want, (w, got, want)
            if WP_UNK not in got:
                assert built == w
    extra = spark.createDataFrame([(10**6, "zqé batch")], ["doc_id", "text"])
    row = wordpiece_encode(extra, vocab).collect()[0]
    assert row["wp_tokens"][0] == WP_UNK


def test_tokenize_queries_sorted_before_the_encoder(spark, sf_dir, tmp_path):
    """The three registered tokenizer queries sort the documents by
    doc_id before the encoder rather than sorting its output. Over a
    copy of the documents in shuffled row order, the collected frame is
    in doc_id order, and its token counts equal the encoder's over the
    unsorted documents."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from n2kupdate_spark.operators import tokenizer as T
    from n2kupdate_spark.queries import QUERIES
    from n2kupdate_spark.queries.text import _BPE_MERGES, _UG_VOCAB
    from n2kupdate_spark.sources import load

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    perm = np.random.RandomState(5).permutation(t.num_rows)
    pq.write_table(t.take(perm), tmp_path / "documents.parquet")
    sf_dir = str(tmp_path)
    d = load(spark, sf_dir, "documents", columns=["doc_id", "text", "n_chars"])
    cases = {
        "text_bpe_tokenize": ("n_bpe_tokens", lambda: T.bpe_encode(
            d, T.learn_bpe_merges(d, num_merges=_BPE_MERGES))),
        "text_unigram_tokenize": ("n_ug_tokens", lambda: T.unigram_encode(
            d, T.learn_unigram_vocab(d, vocab_size=_UG_VOCAB))),
        "text_wordpiece_tokenize": ("n_wp_tokens", lambda: T.wordpiece_encode(
            d, T.learn_wordpiece_vocab(d, num_merges=_BPE_MERGES))),
    }
    for name, (n_col, encode) in cases.items():
        got = QUERIES[name](spark, sf_dir).toPandas()
        assert len(got) > 1 and got["doc_id"].is_unique, name
        pd.testing.assert_frame_equal(
            got, got.sort_values("doc_id", ignore_index=True)
        )
        want = encode().select("doc_id", n_col).toPandas()
        assert dict(zip(got["doc_id"], got[n_col])) == dict(
            zip(want["doc_id"], want[n_col])
        ), name
