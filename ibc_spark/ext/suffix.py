"""Distributed suffix array + LCP over the corpus token stream — the EXACT
substring-dedup machinery of Lee et al. 2022 ("Deduplicating Training Data
Makes Language Models Better"), whose suffix-array step the windowed
:mod:`ibc_spark.ext.dedup` family approximates with stride-1 n-grams.

Construction is Manber–Myers prefix doubling re-expressed as DataFrame
rounds (the same algorithm Flick & Aluru distribute over MPI sorts in
"Parallel distributed memory construction of suffix and LCP arrays",
SC'15 — a sort-based doubling pass per rank table is THE known shape for
distributed SA at scale), with three structural accelerations that all
fall out of one invariant — a per-document UNIQUE sentinel token closes
every document, so no suffix comparison can depend on content past a
document boundary (two suffixes must differ at or before the earlier
sentinel, because each sentinel occurs exactly once in the corpus):

1. **no global position rank**: stream position is the plain arithmetic
   ``gpos = doc_id * W + pos`` (W = longest doc + 2, from one upfront
   aggregate). Cross-document "adjacency" is never consulted — a
   doubling pair (rank[p], rank[p+h]) only decides order for suffixes
   still TIED on their first h tokens, and a tie can never span a
   sentinel — so gpos needs to be contiguous only within a document.
2. **h=32 seed**: the first rank table orders positions by their 32-token
   prefix ARRAY (element-wise array<string> ordering is Spark-native and
   exactly sequence order — no separator-encoding hazard), replacing the
   first five doubling rounds with one two-phase rank. The 32-token key
   inflation per row is the same trade the windowed dedup family makes.
3. **static round count**: maxLCP ≤ longest document, so ranks at prefix
   length h > that bound are provably all distinct — rounds are fixed by
   the upfront aggregate, with no per-round termination action; short-doc
   corpora (the LLM-pipeline norm) converge in 2–3 rounds REGARDLESS of
   corpus size.

LCP of SA-adjacent suffixes = binary decomposition over the retained rank
tables (acc += h when rank_h[a+acc] == rank_h[b+acc]; two int64 hash
equi-joins per level) plus a final <32 remainder read directly off the
two prefix arrays with one codegen ``aggregate`` — zero Python anywhere.

Every shuffle is on an int64 key or a bounded-width pair; per-round state
is one (gpos, rank) frame — the corpus-linear footprint distributed SA
construction costs everywhere. At 100 TB each two-phase rank is a
range-partitioned sort of n rows (the dominant cost, exactly as in the
MPI formulation); round count stays bounded by the longest DOCUMENT, not
the corpus.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ibc_spark.ext import width as scan_width
from ibc_spark.ext.dedup import _gap_merge_span_ids
from ibc_spark.ext.persistreg import persist_tracked
from ibc_spark.ext.text import tokens

__all__ = [
    "build_suffix_array",
    "suffix_array_ranks",
    "adjacent_lcp",
    "longest_repeated_substrings",
    "lcp_histogram",
    "sa_duplicate_spans",
    "sa_spans_rewrite",
]

# Seed prefix width: the initial rank table orders suffixes by their
# first _SEED tokens, replacing log2(_SEED) doubling rounds. 32 keeps the
# per-position key a few hundred bytes while letting typical short-doc
# corpora finish in 0–3 doubling rounds.
_SEED = 32


def _consistent_rank(
    df: DataFrame, cols: list[str], out: str, partitions: int = 32
) -> DataFrame:
    """Order-consistent, equality-preserving global DENSE rank on ``cols``
    with ONE wide shuffle (the doubling loop runs this 3+ times per build,
    so the constant matters): range-repartition on the keys, dense-rank
    within each partition, then stitch partitions in the ≤``partitions``-row
    stats frame — offset_p = cumulative distinct-key count of earlier
    partitions, minus one per boundary where a key straddles it (the range
    partitioner may split a tie run; the straddled key would be counted in
    both partitions, and subtracting each continuation boundary restores a
    single global rank for it, including keys spanning 3+ partitions: each
    extra partition adds exactly one continuation boundary). Equal keys
    share a rank, distinct keys keep their order; when all keys are
    distinct the result is exactly the 1..n row number — what the final
    doubling table needs to BE the suffix-array rank."""
    keys = [F.col(c) for c in cols]
    ranged = persist_tracked(
        df.repartitionByRange(partitions, *keys).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    stats = (
        ranged.groupBy("__pid")
        .agg(
            F.countDistinct(*keys).alias("__nd"),
            F.min(F.struct(*keys)).alias("__firstk"),
            F.max(F.struct(*keys)).alias("__lastk"),
        )
        .withColumn(
            "__straddle",
            F.when(
                F.col("__firstk").eqNullSafe(
                    F.lag("__lastk").over(Window.orderBy("__pid"))
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__nd").over(
                    Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            - F.sum("__straddle").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .select("__pid", "__offset")
    )
    local = F.dense_rank().over(Window.partitionBy("__pid").orderBy(*keys))
    return (
        ranged.join(F.broadcast(stats), on="__pid")
        .withColumn(out, (F.col("__offset") + local).cast("long"))
        .drop("__pid", "__offset")
    )


def _corpus(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, arr, n_chars, ctl) — the ONE tokenize pass every stage of
    a build shares, persisted. ``arr`` is the namespaced token array plus
    the per-doc sentinel ('T'||token …, terminal 'S'||doc_id); ``n_chars``
    / ``ctl`` carry what the sizes aggregate needs from the raw text.

    Before r16 the sizes aggregate, the range-partitioner's sampling pass
    and the sort exchange each re-read the parquet scan and re-tokenized
    the corpus (3 full passes, and the scan of a small-but-dense table is
    a single serial split). One tracked persist of the tokenized frame —
    strictly smaller than the ``positions`` frame the general path already
    persists — collapses them to one pass."""
    return persist_tracked(
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.concat(
                F.transform(
                    tokens(F.col(text_col)), lambda t: F.concat(F.lit("T"), t)
                ),
                F.array(F.concat(F.lit("S"), F.col(id_col).cast("string"))),
            ).alias("arr"),
            F.length(F.col(text_col)).alias("n_chars"),
            F.col(text_col).rlike("[\\x00-\\x08\\x0e-\\x1f]").alias("ctl"),
        )
    )


def _token_stream(
    corpus: DataFrame, *, width: int, pk_len: int = _SEED
) -> DataFrame:
    """(doc_id, pos, key, pk, gpos): one row per token plus one per-doc
    sentinel, from the persisted :func:`_corpus` frame. Real tokens are
    namespaced ``'T' || token`` and the sentinel
    is ``'S' || doc_id`` — 'S' < 'T' byte-wise, so sentinels sort as a
    contiguous low block and, being corpus-unique, cap every suffix
    comparison at its document boundary (no token can collide with a
    sentinel, whatever the corpus alphabet). ``pos`` is the 1-based
    in-document position (sentinel at n_toks+1, matching the dedup
    family's 1-based ``start_tok``); ``pk`` is the suffix's first
    ``_SEED`` keys as an array; ``gpos = doc_id * width + pos`` (injective
    and doc-contiguous — all that prefix doubling with unique sentinels
    ever needs; at int64 this caps doc_id · width below 2^63, i.e. ~9e12
    max-1M-token docs — not the binding constraint at 100 TB)."""
    exploded = corpus.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.col("arr"),
                lambda x, i: F.struct(
                    x.alias("key"), F.slice(F.col("arr"), i + 1, pk_len).alias("pk")
                ),
            )
        ).alias("pos0", "w"),
    )
    return exploded.select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("w.key").alias("key"),
        F.col("w.pk").alias("pk"),
        (F.col("doc_id") * width + F.col("pos0") + 1).alias("gpos"),
    )


# Fast-path ceiling: when the longest document (= the max-LCP bound) is
# below this, the whole suffix array is ONE range-partitioned sort on the
# full in-document suffix key, and adjacent LCPs fall out of the same
# window pass — no doubling rounds at all. Above it, the per-position key
# inflation (O(doc_len) per position, ≤ _FAST_CAP) would outgrow the cost
# of doubling, so the general seeded path takes over.
_FAST_CAP = 128


def _sizes_of(
    corpus: DataFrame, *, id_name: str | None = "doc_id"
) -> tuple[int, int, int, bool, int]:
    """One upfront aggregate over a prebuilt (persisted) :func:`_corpus`
    frame → (bound, n_pos, parts, flat_ok, max_chars); the pass is shared
    with stream construction.

    ``bound``: the maxLCP bound = longest doc's token count (an LCP can
    never cross a sentinel; ``size(arr)`` is n_toks+1 per doc, −1 for a
    NULL text). ``n_pos``: total stream positions. ``parts``: exchange
    width for the rank shuffles (see the sizing note below). ``flat_ok``:
    the corpus is free of sub-0x20 control characters — when it is (the
    overwhelmingly common case), the space-joined key STRING is
    order-equivalent to the token sequence (the separator sorts strictly
    below every token byte, tokens cannot contain it, and a joined prefix
    ends in the separator exactly when the sequence is a proper prefix),
    so sorts run on binary string comparisons instead of Spark's
    interpreted array comparator. ``max_chars``: bounds any suffix
    string's length, sizing the LCP binary decomposition.

    When ``id_name`` is given, the same aggregate also checks that
    ``max(|doc_id|) · width`` fits int64 — ``gpos = doc_id·width + pos``
    is injective only without overflow, and sparse/hashed ids would wrap
    SILENTLY into wrong ranks, so fail loudly instead."""
    aggs = [
        F.max(F.size(F.col("arr"))).alias("m1"),
        F.sum(F.greatest(F.size(F.col("arr")), F.lit(0))).alias("n"),
        F.max(F.col("ctl")).alias("ctl"),
        F.max(F.col("n_chars")).alias("chars"),
    ]
    if id_name is not None:
        # BOTH bounds, not abs(): non-ANSI abs(Long.MIN_VALUE) stays
        # negative and would silently understate the guard (ADVICE r12);
        # the negation happens driver-side in Python, which can't wrap
        aggs.append(F.max(F.col("doc_id")).alias("idmax"))
        aggs.append(F.min(F.col("doc_id")).alias("idmin"))
    sizes = corpus.agg(*aggs).first()
    # m1 = max(size(arr)) = max doc token count + 1; NULL-text docs carry
    # size −1, so clamp at −1 to reproduce max(size(tokens(text))) exactly
    bound = max(int(sizes["m1"]) - 1, -1) if sizes["m1"] is not None else 0
    n_pos = int(sizes["n"] or 0)
    max_chars = 2 * int(sizes["chars"] or 0) + 32
    if id_name is not None:
        width = bound + 2
        maxid = max(int(sizes["idmax"] or 0), -int(sizes["idmin"] or 0))
        if maxid >= (2**63 - 1) // max(width, 1):
            raise ValueError(
                f"suffix array: max |{id_name}| = {maxid} with stream width "
                f"{width} overflows the int64 global position "
                f"gpos = doc_id*width + pos; re-key the corpus to dense ids "
                f"(e.g. zipWithIndex / row_number) below {(2**63 - 1) // width}"
            )
    # conf may be "auto" on AQE-coalesce builds — fall back to the
    # cluster's default parallelism as the cap (ADVICE r11)
    try:
        cap = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        cap = corpus.sparkSession.sparkContext.defaultParallelism
    # ~10k positions/partition (fat suffix keys sort CPU-bound), floored
    # at 4; the session cap governs UNTIL it would put >100k positions in
    # one task — per-partition sort size must stay bounded as the corpus
    # grows or the range sort hits a spill cliff (r12 sf3 A/B: 512
    # partitions beat the 32-partition session cap by 10–20% on the two
    # heaviest entries; exponents 1→3 dropped to ~n·log n). Task count
    # then grows linearly with the corpus — the price of an exact global
    # sort; a cluster-tuned session cap still wins whenever it is higher.
    parts = int(
        min(max(n_pos // 10_000 + 1, 4), max(cap, n_pos // 100_000 + 1))
    )
    return bound, n_pos, parts, not bool(sizes["ctl"]), max_chars


# Above this many stream positions, corpus-class join sides are hinted
# sort-merge (spillable at any scale; AQE misestimates from parquet stats
# broadcast an 8M-row token frame at sf3 and shuffle-hash relations blew
# the unified pool). Below it, AQE's own choices (broadcast/shuffle-hash)
# are both safe and measurably faster — the threshold comes from the same
# upfront aggregate as every other adaptive parameter here.
_MERGE_HINT_MIN_POSITIONS = 2_000_000


def _mh(df: DataFrame, big: bool) -> DataFrame:
    """Sort-merge hint a corpus-class join side on big corpora only."""
    return df.hint("merge") if big else df


def _sort_key(flat_ok: bool):
    """The suffix-order sort key over the ``pk`` array: the space-joined
    string on control-char-free corpora (binary memcmp), the array itself
    otherwise (exact for any alphabet, interpreted comparator)."""
    return F.array_join(F.col("pk"), " ") if flat_ok else F.col("pk")


def _suffix_stream_flat(corpus: DataFrame, *, width: int) -> DataFrame:
    """(doc_id, pos, key, gpos, sk) with the ENTIRE suffix as one string
    ``sk`` — the flat fast-path stream, from the persisted :func:`_corpus`
    frame. Each document joins its namespaced
    keys once ('T'||token …, terminal 'S'||doc_id, space-separated); a
    linear per-doc offset scan (aggregate accumulator) marks where every
    suffix starts, and ``sk`` is a single substring per position — no
    per-position token arrays, so the exchange carries ~the document's
    own bytes once per suffix instead of array headers. On a
    control-char-free corpus the string order IS the token-sequence order
    (separator 0x20 sorts below every token byte and can't occur inside a
    token), which is exactly the ``flat_ok`` dispatch condition."""
    base = corpus.select(
        "doc_id",
        F.array_join(F.col("arr"), " ").alias("full"),
        F.slice(
            F.aggregate(
                F.col("arr"),
                F.array(F.lit(1).cast("int")),
                lambda acc, x: F.concat(
                    acc, F.array(F.element_at(acc, -1) + F.length(x) + 1)
                ),
            ),
            1,
            F.size(F.col("arr")),
        ).alias("offs"),
    )
    return base.select(
        "doc_id",
        F.posexplode(F.col("offs")).alias("pos0", "off"),
        "full",
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.substring(F.col("full"), F.col("off"), F.length("full")).alias("sk"),
        (F.col("doc_id") * width + F.col("pos0") + 1).alias("gpos"),
    ).withColumn("key", F.substring(F.col("sk"), 1, 1))


def _str_lcp_tokens(a, b, max_chars: int):  # Columns + bound -> Column (long)
    """Token-level LCP of two space-joined suffix strings: the
    character-level common prefix by BINARY DECOMPOSITION — one aggregate
    over the descending powers of two covering ``max_chars``, each step a
    single native substring memcmp (`cp += s` iff the next ``s`` chars
    match) — then counting the separators inside it. ~log2(max_chars)
    memcmps per pair instead of a per-chunk scan. Exact under the flat_ok
    contract: a clamped comparison can only report equality when both
    remainders truly match, and "equal through both ends" would mean two
    identical suffix strings, which unique sentinels rule out — so the
    walk can never overshoot either string."""
    m = max(max_chars, 1).bit_length()
    steps = F.array(*[F.lit(1 << j) for j in range(m - 1, -1, -1)])
    cp = F.aggregate(
        steps,
        F.lit(0).cast("int"),
        lambda acc, s: F.when(
            F.substring(a, acc + 1, s) == F.substring(b, acc + 1, s),
            acc + s.cast("int"),
        ).otherwise(acc),
    )
    prefix = F.substring(a, 1, cp)
    return (F.length(prefix) - F.length(F.translate(prefix, " ", ""))).cast("long")


def _rank_lag_lcp_kernel(need_adj: bool):
    """``mapInArrow`` kernel over a SORTED range partition of
    (gpos, sk, __pid): emits the 0-based per-partition row number, the
    suffix's first byte, and (when ``need_adj``) the SA-lag pair —
    previous row's gpos and the token LCP with it — carrying the last row
    across batch boundaries. Replaces the Window(partitionBy __pid) plan,
    whose hashpartitioning exchange re-shuffled the fat suffix strings
    AND whose per-row binary-decomposition LCP walk was the single
    heaviest stage left in the family (~21 s executor time at sf0.1;
    guide §4.2 — batch the work inside the Arrow boundary).

    The numpy LCP is byte-exact with :func:`_str_lcp_tokens`: the common
    BYTE prefix of two UTF-8 strings can overrun the common CHARACTER
    prefix only inside one multi-byte codepoint, which cannot contain the
    0x20 separator — so counting separators inside the byte prefix equals
    counting them inside the character prefix, which is the token LCP
    (pinned by the brute-force suite)."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        loc = 0
        prev_gpos = 0
        prev_bytes: bytes | None = None
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            gpos = rb.column(0).to_numpy(zero_copy_only=False)
            sk = rb.column(1)
            pid = rb.column(2)
            if pa.types.is_large_string(sk.type):
                sk = sk.cast(pa.large_binary())
            elif pa.types.is_string(sk.type):
                sk = sk.cast(pa.binary())
            off_dt = np.int64 if pa.types.is_large_binary(sk.type) else np.int32
            offs = np.frombuffer(sk.buffers()[1], dtype=off_dt)[
                sk.offset : sk.offset + n + 1
            ].astype(np.int64)
            data = np.frombuffer(sk.buffers()[2], dtype=np.uint8)
            starts, ends = offs[:-1], offs[1:]
            lens = ends - starts
            out = {
                "gpos": rb.column(0),
                "__pid": pid,
                "__loc": pa.array(
                    np.arange(loc, loc + n, dtype=np.int64), pa.int64()
                ),
                "key": pa.array(
                    np.where(data[starts] == 0x54, "T", "S")
                ),
            }
            if need_adj:
                # one padded byte matrix of [prev row?] + batch rows;
                # consecutive-row common prefix = first mismatching byte
                # below min(len); token LCP = 0x20 count inside it
                has_prev = prev_bytes is not None
                p_len = len(prev_bytes) if has_prev else 0
                rows_n = n + (1 if has_prev else 0)
                m_len = int(max(int(lens.max()), p_len, 1))
                all_l = np.empty(rows_n, dtype=np.int64)
                colr = np.arange(m_len, dtype=np.int64)
                idx = np.empty((rows_n, m_len), dtype=np.int64)
                base = 1 if has_prev else 0
                all_l[base:] = lens
                idx[base:] = starts[:, None] + colr[None, :]
                np.clip(idx, 0, max(len(data) - 1, 0), out=idx)
                mat = (
                    data[idx]
                    if len(data)
                    else np.zeros((rows_n, m_len), dtype=np.uint8)
                )
                if has_prev:
                    all_l[0] = p_len
                    prow = np.zeros(m_len, dtype=np.uint8)
                    prow[:p_len] = np.frombuffer(prev_bytes, dtype=np.uint8)
                    mat[0] = prow
                a, b = mat[:-1], mat[1:]
                min_l = np.minimum(all_l[:-1], all_l[1:])
                neq = (a != b) & (colr[None, :] < min_l[:, None])
                has = neq.any(axis=1)
                cp = np.where(has, neq.argmax(axis=1), min_l)
                lcp = (
                    ((a == 0x20) & (colr[None, :] < cp[:, None]))
                    .sum(axis=1)
                    .astype(np.int64)
                )
                if has_prev:
                    ga_np = np.empty(n, dtype=np.int64)
                    ga_np[0] = prev_gpos
                    ga_np[1:] = gpos[:-1]
                    out["__ga"] = pa.array(ga_np, pa.int64())
                    out["__lcp"] = pa.array(lcp, pa.int64())
                else:
                    nulls = np.zeros(n, dtype=bool)
                    nulls[0] = True  # first row of the partition: no pair
                    out["__ga"] = pa.array(
                        np.concatenate(([0], gpos[:-1])).astype(np.int64),
                        pa.int64(),
                        mask=nulls,
                    )
                    out["__lcp"] = pa.array(
                        np.concatenate(([0], lcp)).astype(np.int64),
                        pa.int64(),
                        mask=nulls,
                    )
            yield pa.record_batch(list(out.values()), names=list(out.keys()))
            loc += n
            prev_gpos = int(gpos[-1])
            prev_bytes = data[starts[-1] : ends[-1]].tobytes()

    return kernel


def _sa_fast(
    stream: DataFrame, parts: int, max_chars: int, need_adj: bool = True
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """Single-sort suffix array for short-doc flat_ok corpora (``sk``
    holds the ENTIRE suffix string and all suffix strings are distinct):
    ONE range shuffle on the suffix string, then per partition a window
    pass yields the local row number (global rank = tiny-frame offset +
    local, the two-phase pattern), the SA-adjacent neighbor (``lag``),
    and its LCP (chunked-memcmp common prefix → separator count). The
    ≤parts-1 cross-partition adjacencies stitch in the per-partition
    stats frame — lag over (first, last) rows carries both the gpos pair
    and the boundary LCP. Returns (ranked(gpos, sa_rank, key), adj(ga,
    gb, lcp)); ``key`` is the suffix's first byte ('S' = sentinel, 'T' =
    real token — 1 byte per row, read off the cached ``sk`` for free),
    so fast-path callers never need the positions frame at all: together
    with the ``gpos`` arithmetic (:func:`_coords`) it replaces a full
    corpus-stream materialization AND the corpus⨝corpus coordinate join
    every downstream entry used to pay (r16: the three ~2 s single-task
    jobs per entry at sf0.1)."""
    # The ONLY cached copy of the fat suffix strings: the un-persisted
    # stream feeds this exchange (one recompute for the range sampler),
    # and the positions frame the callers join against is the string-free
    # lite projection — caching sk twice doubled heap at sf3 and starved
    # the driver.
    ranged = persist_tracked(
        stream.select("gpos", "sk")
        .repartitionByRange(parts, F.col("sk"))
        .withColumn("__pid", F.spark_partition_id())
    )
    wpid = Window.orderBy("__pid")
    stats = (
        ranged.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.struct("sk", "gpos")).alias("__first"),
            F.max(F.struct("sk", "gpos")).alias("__last"),
        )
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__n").over(wpid.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("__prev_last", F.lag("__last").over(wpid))
    )
    boundary = (
        stats.where(F.col("__prev_last").isNotNull())
        .select(
            F.col("__prev_last.gpos").alias("ga"),
            F.col("__first.gpos").alias("gb"),
            _str_lcp_tokens(
                F.col("__prev_last.sk"), F.col("__first.sk"), max_chars
            ).alias("lcp"),
        )
        .localCheckpoint()  # ≤parts−1 rows; settles the stats→ranged read
        if need_adj
        else None
    )
    # Rank + lag + LCP happen IN PLACE on the cached range partitions
    # (JVM sortWithinPartitions, then the Arrow kernel): no
    # hashpartitioning(__pid) re-exchange of the fat suffix strings, no
    # per-row substring-pair LCP walk (the previous Window plan's
    # exchange collapsed to ~11 effective tasks under byte-based AQE
    # coalescing while the LCP walk burned ~21 s executor time at sf0.1).
    rows = ranged.sortWithinPartitions("sk").mapInArrow(
        _rank_lag_lcp_kernel(need_adj),
        "gpos long, __pid int, __loc long, key string"
        + (", __ga long, __lcp long" if need_adj else ""),
    )
    # LIFECYCLE: everything downstream ever needs from the fat sorted copy
    # is 4 int64s + 1 marker byte per position — extract them in ONE eager
    # pass (the slim checkpoint), then free the suffix-string cache
    # IMMEDIATELY. Holding ranged through the downstream gap-merge/join
    # stages is what exhausted the 8 GB single-JVM heap at sf3 (25M
    # tokens); at cluster scale the same discipline keeps executor caches
    # waveform-free too.
    slim = (
        rows.join(F.broadcast(stats.select("__pid", "__offset")), "__pid")
        .select(
            "gpos",
            (F.col("__offset") + F.col("__loc") + 1).cast("long").alias(
                "sa_rank"
            ),
            "key",
            *(["__pid", "__ga", "__lcp"] if need_adj else []),
        )
        .localCheckpoint()
    )
    if need_adj:
        # adj is LAZY off the slim checkpoint + the tiny boundary frame —
        # the old eager adj checkpoint re-wrote the whole n-row frame per
        # build for no reason (slim already settles everything fat).
        adj = slim.where(F.col("__ga").isNotNull()).select(
            F.col("__ga").alias("ga"),
            F.col("gpos").alias("gb"),
            F.col("__lcp").cast("long").alias("lcp"),
        ).unionByName(boundary)
        # per-position lag LCP with the ≤parts−1 partition-boundary pairs
        # patched in by broadcast — the SA-run break test reads THIS
        # instead of re-joining ranked⨝adj corpus-wide (sa_spans_rewrite).
        lag_lcp = slim.join(
            F.broadcast(boundary.select(F.col("gb").alias("gpos"), "lcp")),
            "gpos",
            "left",
        ).select(
            "gpos",
            "sa_rank",
            "__pid",
            F.coalesce(F.col("lcp"), F.col("__lcp")).alias("lag_lcp"),
        )
    else:
        adj = None  # callers that skip the LCP (suffix_array_rank) save
        #             the per-row memcmp walk AND one checkpoint job
        lag_lcp = None
    ranged.unpersist()
    ranked = slim.select("gpos", "sa_rank", "key")
    return ranked, adj, lag_lcp


class _SACore(NamedTuple):
    positions: DataFrame | None  # general path: (doc_id, pos, key, pk, gpos);
    #                              fast path: None — gpos arithmetic + the
    #                              ranked frame's 1-byte key replace it
    ranked: DataFrame  # (gpos, sa_rank) [+ key on the fast path] — distinct
    adj: DataFrame | None  # (ga, gb, lcp) per SA-adjacent pair; None when
    #                        the caller asked need_adj=False
    parts: int
    big: bool          # corpus-class joins should hint sort-merge
    width: int         # gpos = doc_id·width + pos (pos ∈ [1, width-1])
    src: DataFrame     # the WIDENED input frame (raw text, for rewrite)
    corpus: DataFrame  # persisted (doc_id, arr, …) tokenize pass
    lag_lcp: DataFrame | None = None  # fast path: (gpos, sa_rank, __pid,
    #   lag_lcp) — per-position LCP with the SA predecessor, boundary
    #   pairs patched in; __pid partitions are CONTIGUOUS in sa_rank


def _coords(col: str, width: int) -> tuple:
    """(doc_id, pos) Columns recovered from a gpos column by exact int64
    arithmetic: pos = pmod(g, width) (the true pos is in [1, width-1], so
    the positive mod is exact for ANY doc_id sign) and doc_id =
    (g - pos) div width (the numerator is an exact multiple of width, so
    truncating integer division IS the answer — no float detour, exact
    past 2^53 where floor(g / width) in doubles would round)."""
    doc = F.expr(f"({col} - pmod({col}, {width})) div {width}").cast("long")
    pos = F.pmod(F.col(col), F.lit(width)).cast("int")
    return doc, pos


def _sa_core(
    df: DataFrame, *, id_col: str, text_col: str, need_adj: bool = True
) -> _SACore:
    """Dispatch. Short-doc control-char-free corpora (the LLM-pipeline
    norm — both provable from the one upfront aggregate) take the
    single-sort flat fast path; long-doc or exotic-alphabet corpora take
    seeded prefix doubling + the rank-table LCP walk, which is exact for
    any content. Outputs are contract-identical, pinned by the
    brute-force tests on both paths.

    The corpus scan is widened first (:mod:`ibc_spark.ext.width`), so
    every corpus-linear pass (the sizes aggregate, the range-sampler's
    stream recompute, the exchange feed) runs at core width."""
    df = scan_width.widen(df, "compute")
    corpus = _corpus(df, id_col=id_col, text_col=text_col)
    sizes = _sizes_of(corpus, id_name=id_col)
    bound, n_pos, parts, flat_ok, max_chars = sizes
    big = n_pos > _MERGE_HINT_MIN_POSITIONS
    width = bound + 2
    if flat_ok and bound < _FAST_CAP:
        stream = _suffix_stream_flat(corpus, width=width)
        ranked, adj, lag_lcp = _sa_fast(
            stream, parts, max_chars, need_adj=need_adj
        )
        return _SACore(
            None, ranked, adj, parts, big, width, df, corpus, lag_lcp
        )
    positions, tables = build_suffix_array(
        df, id_col=id_col, text_col=text_col, sizes=sizes, corpus=corpus
    )
    ranked = tables[-1][1].select("gpos", F.col("r").cast("long").alias("sa_rank"))
    return _SACore(
        positions,
        ranked,
        adjacent_lcp(positions, tables) if need_adj else None,
        parts,
        big,
        width,
        df,
        corpus,
    )


def build_suffix_array(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    sizes: tuple[int, int, int, bool, int] | None = None,
    corpus: DataFrame | None = None,
) -> tuple[DataFrame, list[tuple[int, DataFrame]]]:
    """Run seeded prefix doubling; return ``(positions, tables)``.

    ``sizes``: the precomputed :func:`_sizes_of` tuple — pass it when the
    caller (``_sa_core``) already ran the upfront aggregate, so the
    corpus isn't tokenized and sized twice per build (ADVICE r11).
    ``corpus``: the caller's persisted :func:`_corpus` frame (built here
    when absent, so direct calls share the same one-tokenize-pass plan).

    ``positions``: (doc_id, pos, key, pk, gpos) — the sentinel-augmented
    stream. ``tables``: [(h, DataFrame(gpos, r))] where ``r`` ranks every
    suffix by its first ``h`` tokens, h ∈ {_SEED, 2·_SEED, …}; the LAST
    table's ranks are all distinct and therefore ARE the suffix-array
    ranks (h exceeds the max-LCP bound). Each round ends in an EAGER
    localCheckpoint — a round references its predecessor four times
    (self-join + the rank's internal reuse), so lazy caching leaves an
    analysis tree that grows ~4x per round; the checkpoint keeps plan
    size constant per round at the cost of one corpus-linear pass."""
    if corpus is None:
        corpus = _corpus(
            scan_width.widen(df, "compute"), id_col=id_col, text_col=text_col
        )
    bound, _n_pos, parts, flat_ok, _max_chars = sizes or _sizes_of(
        corpus, id_name=id_col
    )
    positions = persist_tracked(_token_stream(corpus, width=bound + 2))

    cur = _consistent_rank(
        positions.select("gpos", _sort_key(flat_ok).alias("__sk")),
        ["__sk"],
        "r",
        partitions=parts,
    ).select("gpos", "r").localCheckpoint()
    h = _SEED
    tables: list[tuple[int, DataFrame]] = [(h, cur)]
    while h <= bound:
        shifted = cur.select(
            (F.col("gpos") - F.lit(h)).alias("gpos"), F.col("r").alias("r2")
        )
        # n-row ⨝ n-row at every scale: never let a size misestimate pick
        # a broadcast (observed: AQE broadcast the 2.7M-row sf1 rank table
        # and exhausted the driver) — shuffle hash is the only right plan
        paired = cur.join(shifted.hint("merge"), "gpos", "left").withColumn(
            "r2", F.coalesce("r2", F.lit(-1))
        )
        # LINEAGE CUT per round: each round references cur 4x (self-join +
        # ranged reuse inside the rank), so without an eager cut the tree
        # grows ~4x per round and analysis explodes combinatorially. The
        # frame is 2 int64s per position — checkpointing is corpus-linear.
        cur = (
            _consistent_rank(paired, ["r", "r2"], "rn", partitions=parts)
            .select("gpos", F.col("rn").alias("r"))
            .localCheckpoint()
        )
        h *= 2
        tables.append((h, cur))
    return positions, tables


def suffix_array_ranks(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, sa_rank) for every REAL token position: the global
    lexicographic rank of the suffix starting there (sentinel suffixes
    hold the lowest ranks, so real ranks carry a fixed n_docs offset —
    kept as-is so the rank is a plain permutation slice both engines
    reproduce)."""
    core = _sa_core(df, id_col=id_col, text_col=text_col, need_adj=False)
    if core.positions is None:
        # fast path: the ranked frame carries the suffix's first byte —
        # sentinels filter on it and (doc_id, pos) fall out of the gpos
        # arithmetic. Zero joins, zero extra corpus passes — and with
        # need_adj=False the per-row LCP walk is never evaluated (this
        # entry only reports ranks).
        doc, pos = _coords("gpos", core.width)
        return core.ranked.where(F.col("key") == "T").select(
            doc.alias("doc_id"), pos.alias("pos"), "sa_rank"
        )
    return (
        core.positions.join(_mh(core.ranked, core.big), "gpos")
        .where(F.col("key").startswith("T"))
        .select("doc_id", "pos", "sa_rank")
    )


def _prefix_match_len(a, b):  # Column, Column -> Column
    """Length of the common prefix of two bounded key arrays: one
    codegen ``aggregate`` over ``zip_with`` equality with a (count, live)
    accumulator. Unequal lengths pad with NULL (<=> NULL is false, which
    stops the count — correct, and the both-NULL tail can never be
    reached live because two suffixes always mismatch at or before the
    earlier unique sentinel)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.eqNullSafe(y)),
        F.struct(F.lit(0).cast("long").alias("n"), F.lit(True).alias("go")),
        lambda acc, m: F.struct(
            F.when(acc["go"] & m, acc["n"] + 1).otherwise(acc["n"]).alias("n"),
            (acc["go"] & m).alias("go"),
        ),
        lambda acc: acc["n"],
    )


def adjacent_lcp(
    positions: DataFrame, tables: list[tuple[int, DataFrame]]
) -> DataFrame:
    """(ga, gb, lcp): for each SA-adjacent suffix pair (rank r at gpos
    ``ga``, rank r+1 at ``gb``), the exact longest-common-prefix length.
    Binary decomposition over the retained rank tables — acc += h when
    rank_h[a+acc] == rank_h[b+acc], two int64 hash joins per level, final
    table skipped (its equality can never fire) — leaves a remainder
    < _SEED, read directly off the two positions' prefix-key arrays with
    one codegen aggregate. No Python, no windows, no quadratic term."""
    sa = tables[-1][1]
    # every join below is n-row ⨝ n-row — hint shuffle hash so no stats
    # misestimate ever broadcasts a corpus-sized rank table (the sf1 OOM)
    adj = sa.select(F.col("r").alias("rr"), F.col("gpos").alias("ga")).join(
        sa.select((F.col("r") - 1).alias("rr"), F.col("gpos").alias("gb")).hint(
            "shuffle_hash"
        ),
        "rr",
    )
    cur = adj.withColumn("lcp", F.lit(0).cast("long"))
    for h, tbl in reversed(tables[:-1]):
        ra = tbl.select(F.col("gpos").alias("__ja"), F.col("r").alias("__ra"))
        rb = tbl.select(F.col("gpos").alias("__jb"), F.col("r").alias("__rb"))
        cur = (
            cur.withColumn("__ka", F.col("ga") + F.col("lcp"))
            .withColumn("__kb", F.col("gb") + F.col("lcp"))
            .join(ra.hint("merge"), F.col("__ka") == F.col("__ja"), "left")
            .join(rb.hint("merge"), F.col("__kb") == F.col("__jb"), "left")
        )
        hit = (
            F.col("__ra").isNotNull()
            & F.col("__rb").isNotNull()
            & (F.col("__ra") == F.col("__rb"))
        )
        cur = cur.withColumn(
            "lcp", F.when(hit, F.col("lcp") + h).otherwise(F.col("lcp"))
        ).drop("__ka", "__kb", "__ja", "__jb", "__ra", "__rb")
    pka = positions.select(F.col("gpos").alias("__ja"), F.col("pk").alias("__pa"))
    pkb = positions.select(F.col("gpos").alias("__jb"), F.col("pk").alias("__pb"))
    cur = (
        cur.withColumn("__ka", F.col("ga") + F.col("lcp"))
        .withColumn("__kb", F.col("gb") + F.col("lcp"))
        .join(pka.hint("merge"), F.col("__ka") == F.col("__ja"), "left")
        .join(pkb.hint("merge"), F.col("__kb") == F.col("__jb"), "left")
        .withColumn(
            "lcp",
            F.col("lcp")
            + F.coalesce(
                _prefix_match_len(F.col("__pa"), F.col("__pb")), F.lit(0)
            ),
        )
    )
    return cur.select("ga", "gb", "lcp")


def longest_repeated_substrings(
    df: DataFrame, *, id_col: str, text_col: str, top_n: int = 20
) -> DataFrame:
    """Top-``top_n`` longest repeated token substrings in the corpus —
    EXACT, any length, any offset (the question the fixed-window family
    cannot answer without knowing the length up front). A substring
    repeats iff some SA-adjacent pair shares it as a prefix, so the
    global answer is a max over the n-1 adjacent LCPs. Output: one row
    per adjacent pair with lcp ≥ 1, the two occurrence coordinates, and
    the matched passage (reconstructed from the earlier suffix's own
    document — an LCP can never cross a document boundary thanks to the
    unique sentinels), ordered by (lcp desc, coordinates) and limited —
    a total order, so the cut is deterministic on both engines."""
    core = _sa_core(df, id_col=id_col, text_col=text_col)
    adj = core.adj
    # gpos = doc_id·W + pos is MONOTONE in (doc_id, pos), so the output
    # contract's tiebreak order (doc_id, pos, nbr_doc_id, nbr_pos) equals
    # (ga, gb) — the top-n cut runs BEFORE any join, on the 3-int adj
    # frame (TakeOrdered). Coordinates come from the gpos arithmetic
    # (an lcp ≥ 1 pair can never involve a sentinel suffix — sentinels
    # are corpus-unique, so their token-level LCP with anything is 0),
    # and the only join left is the ≤top_n-row probe against the corpus
    # tokens — broadcast the probe, never sort the corpus.
    lcps = (
        adj.where(F.col("lcp") >= 1)
        .orderBy(F.col("lcp").desc(), F.col("ga"), F.col("gb"))
        .limit(top_n)
    )
    doc_a, pos_a = _coords("ga", core.width)
    doc_b, pos_b = _coords("gb", core.width)
    probe = lcps.select(
        "lcp",
        doc_a.alias("doc_id"),
        pos_a.alias("pos"),
        doc_b.alias("nbr_doc_id"),
        pos_b.alias("nbr_pos"),
    )
    # real tokens recovered from the CACHED corpus frame (strip the 'T'
    # namespace byte; drop the terminal sentinel) — no re-tokenize pass
    toks_by_doc = core.corpus.select(
        "doc_id",
        F.transform(
            F.slice(
                F.col("arr"), 1, F.greatest(F.size("arr") - 1, F.lit(0))
            ),
            lambda x: x.substr(F.lit(2), F.length(x)),
        ).alias("toks"),
    )
    return (
        toks_by_doc.join(F.broadcast(probe), "doc_id")
        .select(
            F.col("lcp").cast("long").alias("lcp_len"),
            "doc_id",
            "pos",
            "nbr_doc_id",
            "nbr_pos",
            F.array_join(
                F.slice(F.col("toks"), F.col("pos"), F.col("lcp")), " "
            ).alias("passage"),
        )
        .orderBy(
            F.col("lcp_len").desc(),
            F.col("doc_id"),
            F.col("pos"),
            F.col("nbr_doc_id"),
            F.col("nbr_pos"),
        )
        .limit(top_n)
    )


def lcp_histogram(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """The corpus DUPLICATION SPECTRUM: for every adjacent-LCP value, how
    many suffix-array-adjacent pairs share exactly that many tokens — the
    one-scan profile that says how much substring-level duplication a
    dedup pass would find at ANY window length (the count of duplicated
    L-gram start positions is the tail mass ≥ L), before committing to a
    threshold. Output is bounded by the longest document (≤ maxLCP + 1
    rows), so the aggregate is a broadcast-sized groupBy over the 3-int
    adj frame."""
    core = _sa_core(df, id_col=id_col, text_col=text_col)
    return core.adj.groupBy(F.col("lcp").alias("lcp_len")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def sa_duplicate_spans(
    df: DataFrame, *, id_col: str, text_col: str, window: int = 10
) -> DataFrame:
    """Maximal duplicated token spans computed THROUGH THE SUFFIX ARRAY —
    the literal Lee et al. pipeline — with output defined to be identical
    to :func:`ibc_spark.ext.dedup.duplicate_spans`: position p starts a
    duplicated ``window``-gram iff its suffix shares ≥ ``window`` tokens
    with an SA neighbor (suffixes sharing a prefix are contiguous in SA
    order, so the max of the two adjacent LCPs decides), and the flagged
    positions gap-merge into spans via the SAME shared sweep. Two
    independent algorithms, one output contract — the equality is the
    attestation."""
    if window < 1:
        raise ValueError("sa_duplicate_spans: window must be >= 1")
    core = _sa_core(df, id_col=id_col, text_col=text_col)
    adj = core.adj
    # Only the ≥window test matters, so filter the 3-int adj frame FIRST
    # (duplicated-window positions are a sliver of the corpus), then
    # dedup the two legs — no corpus-wide max aggregation. window ≥ 1
    # means no hit can be a sentinel suffix (corpus-unique ⇒ LCP 0 with
    # everything), so (doc_id, start_tok) fall out of the gpos arithmetic
    # directly — the corpus⨝corpus positions join and the positions
    # materialization are gone (r16).
    hits = adj.where(F.col("lcp") >= window)
    dup_gpos = (
        hits.select(F.col("ga").alias("gpos"))
        .unionByName(hits.select(F.col("gb").alias("gpos")))
        .distinct()
    )
    doc, pos = _coords("gpos", core.width)
    dup = dup_gpos.select(doc.alias("doc_id"), pos.alias("start_tok"))
    flagged = _gap_merge_span_ids(dup, window)
    return (
        flagged.groupBy("doc_id", "span_id")
        .agg(
            F.min("start_tok").alias("span_start"),
            (F.max("start_tok") + window - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            F.col("span_id").cast("int").alias("span_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).cast("long").alias(
                "span_tokens"
            ),
            "n_windows",
        )
    )


def sa_spans_rewrite(
    df: DataFrame, *, id_col: str, text_col: str, window: int = 10
) -> DataFrame:
    """APPLY substring dedup THROUGH THE SUFFIX ARRAY — the full Lee et
    al. 2022 pipeline end-to-end (find AND cut), with output defined to
    be identical to :func:`ibc_spark.ext.dedup.spans_rewrite`: every
    duplicated ``window``-gram keeps its canonical occurrence (min
    (doc_id, start_tok)) and cuts the rest; per-doc cut windows gap-merge
    and the cleaned text re-joins the surviving tokens, case-preserved.

    SA formulation of the canonical-occurrence step: occurrences of the
    same ``window``-gram are exactly the maximal RUNS of SA order whose
    adjacent LCPs stay ≥ ``window`` (equal prefixes are contiguous in
    suffix order), so group id = running count of lcp-breaks over rank
    order (two-phase: range-partition on sa_rank, per-partition cumsum +
    broadcast offsets — break flags are per-row data, so partition
    stitching is exact with no boundary cases), canonical = min gpos in
    the run (gpos is monotone in (doc_id, pos)). The apply tail mirrors
    ``spans_rewrite``'s (same output contract, deliberately not a shared
    helper: the oracle equality between the two entries IS the guard, and
    a shared-module edit would manifest-flag the whole windowed family).
    Two independent algorithms, one cleaned corpus — the attestation."""
    if window < 1:
        raise ValueError("sa_spans_rewrite: window must be >= 1")
    core = _sa_core(df, id_col=id_col, text_col=text_col)
    parts, big = core.parts, core.big
    if core.lag_lcp is not None:
        # fast path (r16): the per-position lag LCP is already on the slim
        # checkpoint (boundary pairs patched in), and its __pid partitions
        # are CONTIGUOUS in sa_rank — so the break flags need no
        # ranked⨝adj corpus join, and the running break count reuses the
        # checkpoint partitioning (no second range sampler, no second
        # persist; the only exchange left is the int-row hash shuffle the
        # window itself needs).
        ann = core.lag_lcp.withColumn(
            "brk",
            F.when(
                F.col("lag_lcp").isNull() | (F.col("lag_lcp") < window), 1
            ).otherwise(0),
        )
    else:
        ann = (
            core.ranked.select("gpos", "sa_rank")
            .join(
                _mh(core.adj.select(F.col("gb").alias("gpos"), "lcp"), big),
                "gpos",
                "left",
            )
            .withColumn(
                "brk",
                F.when(
                    F.col("lcp").isNull() | (F.col("lcp") < window), 1
                ).otherwise(0),
            )
        )
        ann = persist_tracked(
            ann.repartitionByRange(parts, F.col("sa_rank")).withColumn(
                "__pid", F.spark_partition_id()
            )
        )
    offs = (
        ann.groupBy("__pid")
        .agg(F.sum("brk").alias("__t"))
        .withColumn(
            "__off",
            F.coalesce(
                F.sum("__t").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__off")
    )
    w = Window.partitionBy("__pid").orderBy("sa_rank")
    grouped = ann.join(F.broadcast(offs), "__pid").withColumn(
        "grp",
        F.col("__off")
        + F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = grouped.groupBy("grp").agg(
        F.min("gpos").alias("cano"), F.count(F.lit(1)).alias("nocc")
    )
    cut_gpos = (
        grouped.join(_mh(runs, big), "grp")
        .where((F.col("nocc") >= 2) & (F.col("gpos") != F.col("cano")))
        .select("gpos")
    )
    # cut members sit in runs whose adjacent LCPs are ≥ window ≥ 1, so no
    # cut can be a sentinel suffix — coordinates are pure gpos arithmetic
    # (the positions join and its corpus pass are gone, r16).
    cdoc, cpos = _coords("gpos", core.width)
    cuts = cut_gpos.select(cdoc.alias("doc_id"), cpos.alias("start_tok"))

    # apply tail — the spans_rewrite output contract, verbatim semantics
    raw_toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = persist_tracked(
        core.src.select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens(F.col(text_col)).alias("toks"),
            raw_toks.alias("raw_toks"),
        )
    )
    spans = (
        _gap_merge_span_ids(cuts, window)
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("start_tok").alias("s"),
            (F.max("start_tok") + window - 1).alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("cut_spans"))
    )
    pos_structs = F.transform(
        F.col("raw_toks"), lambda t, i: F.struct((i + 1).alias("pos"), t.alias("tok"))
    )
    no_spans = F.array().cast("array<struct<s:int,e:int>>")
    kept = F.filter(
        pos_structs,
        lambda st: ~F.exists(
            F.coalesce(F.col("cut_spans"), no_spans),
            lambda sp: (st["pos"] >= sp["s"]) & (st["pos"] <= sp["e"]),
        ),
    )
    return (
        base.join(_mh(spans, big), on="doc_id", how="left")
        .withColumn("kept_arr", kept)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.size("kept_arr")).cast("long").alias("cut_tokens"),
            F.size("kept_arr").cast("long").alias("kept_tokens"),
            F.array_join(
                F.transform("kept_arr", lambda st: st["tok"]), " "
            ).alias("cleaned_text"),
        )
    )
