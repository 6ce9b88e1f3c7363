"""Suffix-array family (round 11): brute-force pins for BOTH execution
paths (single-sort fast path for short-doc corpora; seeded prefix
doubling + rank-table LCP walk for long docs), the SA-vs-windowed
duplicate-span equivalence, and degenerate inputs."""

from __future__ import annotations

import random
import re

import pytest

from ibc_spark.ext import dedup, suffix as sx
from ibc_spark.ext.persistreg import release_persisted


def _brute(docs):
    """Reference suffix ranks + adjacent LCPs on the sentinel-augmented
    token stream, by literal suffix sorting."""
    stream = []
    for d, t in docs:
        tl = [x for x in re.split(r"\s+", t.lower()) if x]
        for i, tok in enumerate(tl):
            stream.append((d, i + 1, "T" + tok))
        stream.append((d, len(tl) + 1, "S" + str(d)))
    keys = [k for _, _, k in stream]
    n = len(stream)
    sufs = sorted(range(n), key=lambda i: keys[i:])
    rank = {(stream[g][0], stream[g][1]): r + 1 for r, g in enumerate(sufs)}

    def lcp(a, b):
        i = 0
        while i < min(len(a), len(b)) and a[i] == b[i]:
            i += 1
        return i

    adj = {}
    for r in range(n - 1):
        a, b = sufs[r], sufs[r + 1]
        adj[((stream[a][0], stream[a][1]), (stream[b][0], stream[b][1]))] = lcp(
            keys[a:], keys[b:]
        )
    return rank, adj


def _mixed_corpus(seed=11, long_docs=True):
    random.seed(seed)
    vocab = ["a", "b", "c", "ab", "xy", "zz"]
    lengths = [0, 1, 5, 40, 90] + ([130, 160] if long_docs else [])
    docs = []
    for d in range(14):
        L = random.choice(lengths)
        docs.append((d, " ".join(random.choice(vocab) for _ in range(L))))
    docs.append((14, docs[3][1]))  # full duplicate
    docs.append((15, docs[3][1] + " extra tail " + docs[5][1]))
    return docs


@pytest.mark.parametrize(
    "cap,long_docs",
    [
        (sx._FAST_CAP, True),   # default dispatch (mixed: general engages)
        (10**9, True),          # force fast path even on long docs
        (0, False),             # force general path on short docs
    ],
)
def test_sa_and_lcp_match_brute_force(spark, cap, long_docs):
    docs = _mixed_corpus(long_docs=long_docs)
    rank, adjexp = _brute(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    old = sx._FAST_CAP
    sx._FAST_CAP = cap
    try:
        res = sx.suffix_array_ranks(df, id_col="doc_id", text_col="text").collect()
        assert res, "non-empty corpus must produce ranks"
        for r in res:
            assert rank[(r.doc_id, r.pos)] == r.sa_rank, (r, rank[(r.doc_id, r.pos)])
        core = sx._sa_core(df, id_col="doc_id", text_col="text")
        if core.positions is not None:
            pl = {r.gpos: (r.doc_id, r.pos) for r in core.positions.collect()}
        else:
            # fast path carries no positions frame — rebuild the gpos map
            # INDEPENDENTLY from the raw corpus (same tokenizer contract
            # as _brute), so the arithmetic decode in suffix.py is being
            # checked against this, not against itself.
            pl = {}
            for d, t in docs:
                n_toks = len([x for x in re.split(r"\s+", t.lower()) if x])
                for p in range(1, n_toks + 2):
                    pl[d * core.width + p] = (d, p)
        got = core.adj.collect()
        assert len(got) == len(pl) - 1  # every SA-adjacent pair, exactly once
        for r in got:
            assert adjexp[(pl[r.ga], pl[r.gb])] == r.lcp, (pl[r.ga], pl[r.gb], r.lcp)
    finally:
        sx._FAST_CAP = old
        release_persisted()


@pytest.mark.parametrize("cap", [sx._FAST_CAP, 0])
def test_sa_spans_equal_windowed_spans(spark, cap):
    """The attestation contract: SA+LCP spans == stride-1 windowed spans,
    row for row (two independent algorithms, one output)."""
    docs = _mixed_corpus(seed=23, long_docs=True)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    old = sx._FAST_CAP
    sx._FAST_CAP = cap
    try:
        a = sorted(
            map(
                tuple,
                sx.sa_duplicate_spans(
                    df, id_col="doc_id", text_col="text", window=4
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                dedup.duplicate_spans(
                    df, id_col="doc_id", text_col="text", window=4
                ).collect(),
            )
        )
        assert a == b and a, "SA-derived spans must equal windowed spans"
    finally:
        sx._FAST_CAP = old
        release_persisted()


def test_lrs_finds_planted_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),
        (1, "completely unrelated words live here"),
        (2, base),  # full duplicate → LRS = the whole doc
        (3, "the quick brown fox stops"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = sx.longest_repeated_substrings(
        df, id_col="doc_id", text_col="text", top_n=3
    ).collect()
    assert rows[0].lcp_len == len(base.split())
    assert rows[0].passage == base
    assert {rows[0].doc_id, rows[0].nbr_doc_id} == {0, 2}
    assert rows[0].pos == 1 and rows[0].nbr_pos == 1
    release_persisted()


def test_control_char_corpus_dispatches_to_exact_general_path(spark):
    """A token containing a sub-0x20 byte voids the joined-string order
    equivalence; _sizes_of must detect it and _sa_core must take the
    array-keyed general path, which stays exact for any alphabet."""
    docs = [
        (0, "aa \x01zz aa bb cc dd"),
        (1, "aa \x01zz aa bb cc ee"),
        (2, "plain words only here"),
    ]
    rank, adjexp = _brute(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    corpus = sx._corpus(df, id_col="doc_id", text_col="text")
    assert not sx._sizes_of(corpus)[3], "control chars must clear flat_ok"
    res = sx.suffix_array_ranks(df, id_col="doc_id", text_col="text").collect()
    for r in res:
        assert rank[(r.doc_id, r.pos)] == r.sa_rank
    core = sx._sa_core(df, id_col="doc_id", text_col="text")
    pl = {r.gpos: (r.doc_id, r.pos) for r in core.positions.collect()}
    for r in core.adj.collect():
        assert adjexp[(pl[r.ga], pl[r.gb])] == r.lcp
    release_persisted()


@pytest.mark.parametrize("cap", [sx._FAST_CAP, 0])
def test_sa_rewrite_equals_windowed_rewrite(spark, cap):
    """The end-to-end attestation: the SA pipeline's CLEANED CORPUS
    (canonical election + cut + rewrite) equals the windowed rewrite's,
    row for row, case preserved."""
    random.seed(47)
    vocab = ["a", "b", "c", "ab", "xy", "zz", "Qq", "ZZ"]
    docs = []
    for d in range(12):
        L = random.choice([0, 1, 5, 40, 90])
        docs.append((d, " ".join(random.choice(vocab) for _ in range(L))))
    docs.append((12, docs[3][1]))
    docs.append((13, docs[3][1] + " Tail " + docs[5][1]))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    old = sx._FAST_CAP
    sx._FAST_CAP = cap
    try:
        a = sorted(
            map(
                tuple,
                sx.sa_spans_rewrite(
                    df, id_col="doc_id", text_col="text", window=4
                ).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                dedup.spans_rewrite(
                    df, id_col="doc_id", text_col="text", window=4
                ).collect(),
            )
        )
        assert a == b and any(r[2] > 0 for r in a), "must actually cut spans"
    finally:
        sx._FAST_CAP = old
        release_persisted()


def test_lcp_histogram_matches_brute_force_and_tail_mass(spark):
    docs = _mixed_corpus(seed=31, long_docs=False)
    _rank, adjexp = _brute(docs)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.lcp_len: r.n_pairs
        for r in sx.lcp_histogram(df, id_col="doc_id", text_col="text").collect()
    }
    exp = {}
    for v in adjexp.values():
        exp[v] = exp.get(v, 0) + 1
    assert got == exp
    # tail mass ≥ L == duplicated-L-gram start positions (the planning use)
    L = 4
    dup_positions = {
        p
        for (pa, pb), v in adjexp.items()
        if v >= L
        for p in (pa, pb)
    }
    spans = sx.sa_duplicate_spans(
        df, id_col="doc_id", text_col="text", window=L
    ).collect()
    assert sum(s.n_windows for s in spans) == len(dup_positions)
    release_persisted()


def test_hashed_doc_ids_fail_loudly_not_silently(spark):
    """gpos = doc_id*width + pos is injective only while doc_id·width
    fits int64; sparse/hashed ids (e.g. 63-bit content hashes) must raise
    with a re-key hint instead of wrapping into wrong ranks (ADVICE r11).
    Dense ids at the same corpus shape stay fine."""
    docs = [(2**62, "a b c a b c"), (7, "a b c d")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    with pytest.raises(ValueError, match="overflows the int64"):
        sx.suffix_array_ranks(df, id_col="doc_id", text_col="text").collect()
    # Long.MIN_VALUE: non-ANSI abs() keeps it NEGATIVE, which would make
    # an abs-based bound silently pass — the guard must check both bounds
    # (ADVICE r12)
    neg = spark.createDataFrame(
        [(-(2**63), docs[0][1]), (7, docs[1][1])], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="overflows the int64"):
        sx.suffix_array_ranks(neg, id_col="doc_id", text_col="text").collect()
    dense = spark.createDataFrame(
        [(0, docs[0][1]), (1, docs[1][1])], ["doc_id", "text"]
    )
    assert sx.suffix_array_ranks(dense, id_col="doc_id", text_col="text").count() == 10
    release_persisted()


def test_empty_and_degenerate_corpora(spark):
    e = spark.createDataFrame([], "doc_id long, text string")
    assert sx.suffix_array_ranks(e, id_col="doc_id", text_col="text").count() == 0
    assert (
        sx.longest_repeated_substrings(e, id_col="doc_id", text_col="text").count()
        == 0
    )
    assert sx.sa_duplicate_spans(e, id_col="doc_id", text_col="text").count() == 0
    # whitespace-only and single-token docs: sentinel-only / trivial suffixes
    d = spark.createDataFrame([(0, "   "), (1, "x"), (2, "x")], ["doc_id", "text"])
    ranks = sx.suffix_array_ranks(d, id_col="doc_id", text_col="text").collect()
    assert sorted((r.doc_id, r.pos) for r in ranks) == [(1, 1), (2, 1)]
    lrs = sx.longest_repeated_substrings(d, id_col="doc_id", text_col="text").collect()
    assert len(lrs) == 1 and lrs[0].lcp_len == 1 and lrs[0].passage == "x"
    release_persisted()
