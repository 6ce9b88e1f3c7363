"""Deduplication + decontamination registry entries (split from
registry_ext, round 8 — VERDICT r7 #7): exact/prefix/paragraph dedup,
MinHash+LSH (production, verified, portable, incremental), SimHash,
embedding-cosine/LSH dedup, cluster components, corpus materialize,
holdout + Bloom decontamination, passage near-dup. Entry names and
oracles unchanged.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ibc_spark.ext import dedup, multimodal, similarity, text, width  # noqa: F401
from ibc_spark.io_.sources import read_table  # noqa: F401
from ibc_spark.registry_core import query  # noqa: F401
from ibc_spark.registry_ext_base import (  # noqa: F401
    _AUG_SQL,
    _FOLD_SUM_D,
    _PLANT_SQL,
    _PLANTED_PAIRS,
    _SHINGLES,
    _TOKS,
    _augmented_embeddings,
    _cos_sql,
    _planted_embeddings,
    _planted_lsh_pairs,
)

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_prefix",
    oracle=f"""
    WITH t AS (SELECT doc_id, array_to_string(list_slice({_TOKS}, 1, 5), ' ') AS dedup_key
               FROM documents)
    SELECT dedup_key, min(doc_id) AS kept_id, count(*) AS group_size
    FROM t GROUP BY dedup_key
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a 5-token-prefix normalization key (hash groupBy —
    ONE shuffle regardless of scale)."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(d, key=dedup.norm_key("text", 5), id_col="doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_SHINGLES} AS sh
      FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM base a JOIN base b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked 3-gram Jaccard near-dup pairs (block = source)."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", block_col="source", n=3, threshold=0.05
    )


# floor at 1 (not 0) to mirror Spark's shingles() degenerate-doc artifact
# exactly as _SHINGLES does: a <2-token doc still emits one (short) window
# on BOTH engines, so such docs cannot split the pair sets (review r8)
_SHINGLES2 = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-1,1)+1),"
    " i -> array_to_string(list_slice(toks, i, i+1), ' ')))"
)


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_SHINGLES2} AS sh
      FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
             AS containment
    FROM base a JOIN base b ON a.source = b.source AND a.doc_id <> b.doc_id
    WHERE len(a.sh) > 0
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.15
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked DIRECTED 2-gram containment pairs (block = source, τ=0.15):
    |A∩B|/|A| — the asymmetric near-subset detector that Jaccard cannot
    express (a short doc fully embedded in a long one has Jaccard ≈ 0 but
    containment 1). UNDIRECTED inverted-index count join (one shuffled
    row per shared shingle); both directed containments explode from the
    single per-pair count after aggregation and filter per direction
    (see ``ngram_containment_pairs`` for why the per-direction length
    prune is deliberately NOT applied)."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        d, id_col="doc_id", text_col="text", block_col="source", n=2, threshold=0.15
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    pairs AS (
      SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(a.sh, b.sh))) AS j
      FROM base a JOIN base b ON a.doc_id < b.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           CAST(count(*) FILTER (WHERE j >= 0.8) AS BIGINT) AS n_true_pairs_08,
           true AS precision_ok,
           true AS raw_verify_ok,
           true AS recall_08_ok
    FROM pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-FACE ATTESTATION of the xxhash64 MinHash(32)+LSH(8
    bands) near-dup detector at the WORKING threshold 0.5 (VERDICT r8 #2
    option (a) — formerly rows-only: at t=0.5 a pair's banding hit
    probability is 1-(1-0.5^4)^8 ≈ 0.40, so the raw pair LIST is a
    function of the xxhash64 signatures no SQL engine replays). This
    entry runs the full production operator (``dedup.minhash_lsh_pairs``,
    the user API), then reduces it to one deterministic invariant row:

    - ``n_docs`` / ``n_true_pairs_08`` — data-derived; the confidence-
      threshold exact arm is ``dedup.ngram_jaccard_pairs`` at t=0.8 over
      a single block (PPJoin prefix filter — ~4% of posting volume at
      t=0.8, never all-pairs); the oracle recomputes the count with its
      own O(n²) brute force, a cost only the sf0.01 oracle pays;
    - ``precision_ok`` — every emitted pair's verified Jaccard ≥ 0.5 (the
      operator's exact-verification stage actually ran);
    - ``raw_verify_ok`` — every emitted pair re-verifies ≥ 0.5 on RAW
      string shingles, O(|output|) work (catches hashed-vs-raw shingle
      divergence: a hash collision or tokenization drift);
    - ``recall_08_ok`` — every exact ≥0.8 pair was recalled (the
      ``test_minhash`` floor; deterministic on fixed data — the t=0.5
      banding recalls ≥0.8 pairs with per-pair miss probability
      (1-0.8^4)^8 ≈ 1.5%, and on the fixed snapshots none are missed).

    The full pair-list output stays hash-attested at this same working
    threshold through ``dedup_minhash_lsh_portable`` (identical banding
    machinery, md5 hashes) and at the confidence threshold through
    ``dedup_minhash_verified``. Every attest arm scales linearly with
    the corpus (t=0.8 prefix join + O(|pairs|) re-verification), so this
    surface runs unchanged at 100 TB — unlike a t=0.5 exact sweep, which
    only an audit slice could afford."""
    d = read_table(spark, sf_dir, "documents")
    lsh = dedup.minhash_lsh_pairs(
        d, id_col="doc_id", text_col="text", k=32, bands=8, n=3, threshold=0.5
    )
    # persisted: the raw-shingle frame re-attaches TWICE (id_a and id_b
    # legs)
    sh = dedup.persist_tracked(
        dedup._shingle_frame(width.widen(d, "compute"), "doc_id", "text", 3)
    )
    raw_checked = (
        lsh.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            on="id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            "jaccard",
            dedup.jaccard(F.col("sh_a"), F.col("sh_b")).alias("raw_j"),
        )
    )
    exact08 = dedup.ngram_jaccard_pairs(
        d.withColumn("_all", F.lit(1)),
        id_col="doc_id",
        text_col="text",
        block_col="_all",
        n=3,
        threshold=0.8,
    ).select("id_a", "id_b", F.lit(1).alias("ex"))
    summary = (
        raw_checked.withColumn("ls", F.lit(1))
        .join(exact08, on=["id_a", "id_b"], how="full")
        .agg(
            F.coalesce(F.sum("ex"), F.lit(0)).alias("n_true_pairs_08"),
            F.coalesce(F.min("jaccard") >= 0.5, F.lit(True)).alias("precision_ok"),
            F.coalesce(F.min("raw_j") >= 0.5, F.lit(True)).alias("raw_verify_ok"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("ex").isNotNull() & F.col("ls").isNull(), 1)),
                    F.lit(0),
                )
                == 0
            ).alias("recall_08_ok"),
        )
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(summary).select(
        "n_docs",
        "n_true_pairs_08",
        "precision_ok",
        "raw_verify_ok",
        "recall_08_ok",
    )


# Portable-minhash parameters (k=32 signatures, 8 bands of 4) and the
# unrolled per-permutation min fragments of the oracle: permutation i maps a
# pre-hashed shingle h to ((2i+1)·h + i²+7) mod 2^31-1 — the identical
# arithmetic the Arrow signature kernel runs (ints < 2^38, exact in int64
# on both engines).
_MH_K, _MH_BANDS = 32, 8
_MH_RPB = _MH_K // _MH_BANDS
_MH_HSH = (
    "list_transform(sh, s -> "
    "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647)"
)
_MH_MINS = ", ".join(
    f"list_min(list_transform(hsh, h -> ({2 * i + 1}*h + {i * i + 7}) % 2147483647))"
    for i in range(_MH_K)
)


@query(
    "dedup_minhash_lsh_portable",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_MH_HSH} AS hsh
      FROM (SELECT doc_id, {_SHINGLES} AS sh
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents))
    ),
    sigs AS (SELECT doc_id, [{_MH_MINS}] AS sig FROM base),
    bandf AS (
      SELECT doc_id, CAST(t.i AS INT) AS band_idx,
             md5(array_to_string(list_slice(sig, t.i*{_MH_RPB}+1, t.i*{_MH_RPB}+{_MH_RPB}), ',')) AS band_hash
      FROM sigs, range({_MH_BANDS}) t(i)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandf a JOIN bandf b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(x.hsh, y.hsh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.hsh, y.hsh))) AS jaccard
    FROM cands JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
    WHERE CAST(len(list_intersect(x.hsh, y.hsh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.hsh, y.hsh))) >= 0.5
    """,
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-attested PORTABLE FACE of ``dedup_minhash_lsh`` at the
    WORKING threshold 0.5 (VERDICT r7 #3 — the last probabilistic entry
    without one): md5-prefix shingle hashes and md5 band keys replace the
    xxhash64 spellings, so DuckDB replays signatures → band keys →
    candidate self-join → exact-Jaccard verification bit-for-bit,
    including the ~0.40 banding recall that keeps the xxhash64
    sibling's raw pair list external-replay-proof (that entry now
    attests itself through oracled invariants). Same r7 pattern as
    ``ann_topk_lsh_portable`` /
    ``knn_graph_lsh_portable``; same plan shape as the production entry
    (banded equi-join, never all-pairs — the oracle's own band join is
    the same equi-join). The Arrow signature kernel runs UNCHANGED over
    the portable hashes, so this also attests the kernel arithmetic."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        k=_MH_K,
        bands=_MH_BANDS,
        n=3,
        threshold=0.5,
        portable=True,
    )


@query(
    "dedup_minhash_verified",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM base a JOIN base b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH at CONFIDENCE threshold 0.8 with a deep signature
    (k=64, 16 bands of 4 rows), oracled against the exact global pair set:
    a 0.8-similarity pair's probability of missing every band is
    (1-0.8^4)^16 ≈ 2e-4 and ≥0.87 pairs ≈ 4e-15; the signatures are
    seeded/deterministic, so on fixed data the LSH output equals the exact
    pair set (the parity suite proves it per dataset; any regression in the
    banding plumbing breaks the hash match). The oracle is the O(n²)
    cross-join ONLY the oracle pays — the operator under test stays the
    banded equi-join."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, id_col="doc_id", text_col="text", k=64, bands=16, n=3, threshold=0.8
    )


_EVAL_DEDUP_MOD = 2


@query(
    "eval_dedup_metrics",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id % {_EVAL_DEDUP_MOD} = 0),
    rawb AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM d)
    ),
    base AS (SELECT doc_id, {_MH_HSH} AS hsh FROM rawb),
    sigs AS (SELECT doc_id, [{_MH_MINS}] AS sig FROM base),
    bandf AS (
      SELECT doc_id, CAST(t.i AS INT) AS band_idx,
             md5(array_to_string(list_slice(sig, t.i*{_MH_RPB}+1, t.i*{_MH_RPB}+{_MH_RPB}), ',')) AS band_hash
      FROM sigs, range({_MH_BANDS}) t(i)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bandf a JOIN bandf b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id
    ),
    sys AS (
      SELECT id_a, id_b
      FROM cands JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
      WHERE CAST(len(list_intersect(x.hsh, y.hsh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.hsh, y.hsh))) >= 0.5
    ),
    gold AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rawb a JOIN rawb b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ),
    j AS (
      SELECT CAST(s.id_a IS NOT NULL AS INT) AS in_sys,
             CAST(g.id_a IS NOT NULL AS INT) AS in_gold
      FROM sys s FULL JOIN gold g ON s.id_a = g.id_a AND s.id_b = g.id_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
           CAST(coalesce(sum(in_gold), 0) AS BIGINT) AS n_true_pairs,
           CAST(coalesce(sum(in_sys), 0) AS BIGINT) AS n_sys_pairs,
           CAST(coalesce(sum(in_sys * in_gold), 0) AS BIGINT) AS n_hits,
           round(CASE WHEN coalesce(sum(in_sys), 0) = 0 THEN NULL
                      ELSE CAST(sum(in_sys * in_gold) AS DOUBLE) / sum(in_sys)
                 END, 6) AS prec,
           round(CASE WHEN coalesce(sum(in_gold), 0) = 0 THEN NULL
                      ELSE CAST(sum(in_sys * in_gold) AS DOUBLE) / sum(in_gold)
                 END, 6) AS recall
    FROM j
    """,
)
def eval_dedup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE DEDUP EVAL — the measurement operator a 100 TB dedup
    pipeline runs before trusting a banding config, completing the eval
    family next to ``eval_retrieval_metrics``: pair-level PRECISION and
    RECALL of the md5-portable MinHash+LSH detector at the working
    threshold 0.5 against the exact ≥0.5 pair set, on a deterministic
    1-in-2 hash sample of the corpus (``doc_id % 2 == 0`` — the
    audit-slice shape: the exact gold arm is O(sample²) worst case, so
    the sample modulus, not the corpus, prices the eval). System arm =
    ``dedup.minhash_lsh_pairs(portable=True)`` — the exact machinery the
    ``dedup_minhash_lsh_portable`` entry hash-attests; gold arm =
    ``dedup.ngram_jaccard_pairs`` (PPJoin) over a single block. Both
    arms and BOTH metrics replay bit-for-bit in DuckDB (counts are
    integers; precision/recall are single IEEE divisions of exact
    integers). Emits one row: (n_docs, n_true_pairs, n_sys_pairs,
    n_hits, prec, recall) with NULL metrics on empty denominators."""
    d = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _EVAL_DEDUP_MOD == 0
    )
    sysp = dedup.minhash_lsh_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        k=_MH_K,
        bands=_MH_BANDS,
        n=3,
        threshold=0.5,
        portable=True,
    ).select("id_a", "id_b", F.lit(1).alias("in_sys"))
    gold = dedup.ngram_jaccard_pairs(
        d.withColumn("_all", F.lit(1)),
        id_col="doc_id",
        text_col="text",
        block_col="_all",
        n=3,
        threshold=0.5,
    ).select("id_a", "id_b", F.lit(1).alias("in_gold"))
    hits = F.coalesce(F.sum(F.col("in_sys") * F.col("in_gold")), F.lit(0))
    n_sys = F.coalesce(F.sum("in_sys"), F.lit(0))
    n_gold = F.coalesce(F.sum("in_gold"), F.lit(0))
    m = sysp.join(gold, on=["id_a", "id_b"], how="full").agg(
        n_gold.alias("n_true_pairs"),
        n_sys.alias("n_sys_pairs"),
        hits.alias("n_hits"),
        F.round(
            F.when(n_sys == 0, F.lit(None)).otherwise(
                hits.cast("double") / n_sys
            ),
            6,
        ).alias("prec"),
        F.round(
            F.when(n_gold == 0, F.lit(None)).otherwise(
                hits.cast("double") / n_gold
            ),
            6,
        ).alias("recall"),
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(m).select(
        "n_docs", "n_true_pairs", "n_sys_pairs", "n_hits", "prec", "recall"
    )


@query(
    "dedup_incremental_cross",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT a.doc_id AS new_id, b.doc_id AS seen_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM base a JOIN base b
      ON a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
)
def dedup_incremental_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: every 3rd document plays the newly ingested batch,
    the rest the archive; banded new×seen join (candidate volume scales with
    the batch) exact-verified at confidence threshold 0.8, where the deep
    k=64/16 signature makes the LSH output equal the exact cross pair set
    (same determinism argument as ``dedup_minhash_verified``)."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.cross_corpus_neardup_pairs(
        d.where(F.col("doc_id") % 3 == 0),
        d.where(F.col("doc_id") % 3 != 0),
        id_col="doc_id",
        text_col="text",
        k=64,
        bands=16,
        n=3,
        threshold=0.8,
    )


_SHINGLES8 = (
    "list_distinct(list_transform(range(1, greatest(len(toks)-7,1)+1),"
    " i -> array_to_string(list_slice(toks, i, i+7), ' ')))"
)


@query(
    "decontaminate_against_holdout",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 8 THEN {_SHINGLES8}
                         ELSE [] END) AS g
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    test AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
    hits AS (
      SELECT s.doc_id, COUNT(*) AS n_hits
      FROM (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 97 <> 0) s
      JOIN test USING (g)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           h.doc_id IS NOT NULL AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    """,
)
def decontaminate_against_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style 8-gram overlap): every 97th
    document plays the held-out benchmark; the rest of the corpus is tagged
    with its shared-8-gram count. Test-set shingles broadcast (map-side
    membership probe), one shuffle on doc_id for the hit count."""
    d = read_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 97 != 0)
    holdout = d.where(F.col("doc_id") % 97 == 0)
    return dedup.contamination_tags(
        corpus, holdout, id_col="doc_id", text_col="text", n=8
    )


@query(
    "decontaminate_semantic",
    oracle=f"""
    WITH emb AS ({_PLANT_SQL}),
    hits AS (
      SELECT c.vec_id, COUNT(*) AS n_hits
      FROM emb c JOIN emb h
        ON h.vec_id % 97 = 0 AND c.vec_id % 97 <> 0
       AND {_cos_sql('c.embedding', 'h.embedding')} >= 0.95
      GROUP BY c.vec_id
    )
    SELECT e.vec_id,
           COALESCE(h.n_hits, 0) AS n_hits,
           h.vec_id IS NOT NULL AS contaminated
    FROM (SELECT vec_id FROM emb WHERE vec_id % 97 <> 0) e
    LEFT JOIN hits h USING (vec_id)
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-level complement
    of the 8-gram ``decontaminate_against_holdout``: a corpus document is
    contaminated when its EMBEDDING sits at cosine ≥ 0.95 to any held-out
    benchmark embedding (catches paraphrases and translations the exact
    n-gram probe misses — the Llama/GPT-4-card eval-hygiene step). Every
    97th vector plays the benchmark; planted successor-dups
    (``_PLANT_SQL``) make the hit set non-trivial at oracle SF.

    Plan: banded hyperplane LSH + exact cosine verify over the WHOLE
    table (``dedup.embedding_lsh_pairs`` — adaptive band params, equi-key
    shuffles, nothing quadratic), keep only pairs that STRADDLE the
    holdout boundary, count hits per corpus id, left join back onto the
    corpus ids. Determinism: at 0.95 the banding calculus puts the
    per-pair miss ≤2e-5 at the threshold and ≤4e-17 for the planted
    pairs (cos 1.0), and the fixture has no natural pair above ~0.51 —
    so LSH output equals the exact pair set the O(|holdout|·n) oracle
    computes (same argument as ``dedup_embedding_lsh``; fixture-coupling
    documented in COVERAGE.md). At 100 TB the holdout side is a few
    thousand benchmark rows — production would broadcast its band
    signatures; the general self-join path here subsumes that shape."""
    emb = _planted_embeddings(spark, sf_dir)
    pairs = dedup.embedding_lsh_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.95
    )
    a_h = F.col("id_a") % 97 == 0
    b_h = F.col("id_b") % 97 == 0
    straddle = pairs.where(a_h != b_h).select(
        F.when(a_h, F.col("id_b")).otherwise(F.col("id_a")).alias("vec_id")
    )
    hits = straddle.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n_hits"))
    corpus = emb.where(F.col("vec_id") % 97 != 0).select("vec_id")
    return corpus.join(hits, on="vec_id", how="left").select(
        "vec_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.col("n_hits").isNotNull().alias("contaminated"),
    )


_BLOOM_M = 65536
_BLOOM_K = 4
# Double-hash bases per shingle — the one shared spelling (foldspec).
from ibc_spark.ext.foldspec import md5_double_hash_sql as _md5_dh_sql  # noqa: E402

_BLOOM_H = _md5_dh_sql("g")


@query(
    "decontaminate_bloom",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 8 THEN {_SHINGLES8}
                         ELSE [] END) AS g
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    th AS (
      SELECT {_BLOOM_H}
      FROM (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0)
    ),
    tpos AS (
      SELECT DISTINCT (h1 + i * h2) % {_BLOOM_M} AS pos
      FROM th, range(0, {_BLOOM_K}) t(i)
    ),
    bloom AS (
      SELECT pos // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
      FROM tpos GROUP BY 1
    ),
    cp AS (
      SELECT doc_id, g, (h1 + i * h2) % {_BLOOM_M} AS pos
      FROM (SELECT doc_id, g, {_BLOOM_H}
            FROM sh WHERE doc_id % 97 <> 0), range(0, {_BLOOM_K}) t(i)
    ),
    pg AS (
      SELECT c.doc_id, c.g,
             sum(CASE WHEN b.bits IS NOT NULL
                       AND ((b.bits >> CAST(c.pos % 32 AS INTEGER)) & 1) = 1
                 THEN 1 ELSE 0 END) AS np
      FROM cp c LEFT JOIN bloom b ON c.pos // 32 = b.word_idx
      GROUP BY c.doc_id, c.g
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN np = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
      FROM pg GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_flagged, 0) AS n_flagged,
           COALESCE(p.n_flagged, 0) > 0 AS maybe_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN per_doc p USING (doc_id)
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (sketch-backed sibling of
    ``decontaminate_against_holdout``): the held-out benchmark's distinct
    8-grams compress to a 64 Kbit mergeable Bloom filter (sparse
    (word_idx, bits) frame, ≤ m/32 = 2048 rows) that every executor probes
    locally — the shape for benchmark suites too large to broadcast as
    strings at 100 TB. No false negatives (flagged ⊇ truly contaminated,
    pinned in pytest against the exact sibling); FP rate bounded by
    (1-e^(-kn/m))^k. Deterministic md5 double hashing on both engines, so
    this probabilistic operator still gets a FULL hash oracle — the
    filter bits, probe results, and per-doc counts are replayed exactly
    in DuckDB."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.bloom_contamination(
        d.where(F.col("doc_id") % 97 != 0),
        d.where(F.col("doc_id") % 97 == 0),
        id_col="doc_id",
        text_col="text",
        n=8,
        m_bits=_BLOOM_M,
        k=_BLOOM_K,
    )


@query(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    occ AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_tok,
             array_to_string(list_slice(toks, u.i, u.i + 9), ' ') AS passage
      FROM t, unnest(CASE WHEN len(toks) >= 10
                          THEN range(1, len(toks) - 8) ELSE [] END) AS u(i)
    ),
    dup AS (
      SELECT doc_id, start_tok
      FROM occ
      QUALIFY COUNT(*) OVER (PARTITION BY passage) > 1
    ),
    flagged AS (
      SELECT doc_id, start_tok,
             CASE WHEN max(start_tok + 9) OVER (
                      PARTITION BY doc_id ORDER BY start_tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR start_tok > max(start_tok + 9) OVER (
                      PARTITION BY doc_id ORDER BY start_tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS opens
      FROM dup
    ),
    spans AS (
      SELECT doc_id, start_tok,
             sum(opens) OVER (PARTITION BY doc_id ORDER BY start_tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM flagged
    )
    SELECT doc_id, CAST(span_id AS INT) AS span_id,
           min(start_tok) AS span_start,
           max(start_tok) + 9 AS span_end,
           CAST(max(start_tok) + 9 - min(start_tok) + 1 AS BIGINT)
             AS span_tokens,
           count(*) AS n_windows
    FROM spans GROUP BY doc_id, span_id
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated token spans (window=10, stride 1) — the
    arbitrary-offset substring-dedup output (Lee et al. 2022): per doc,
    the merged token ranges covered by any 10-gram occurring more than
    once anywhere in the corpus. ``dedup_paragraph_exact`` lists strided
    occurrences; this emits the exact spans a substring deduper cuts."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.duplicate_spans(d, id_col="doc_id", text_col="text", window=10)


@query(
    "dedup_paragraph_exact",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    occ AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_tok,
             array_to_string(list_slice(toks, u.i, u.i + 9), ' ') AS passage
      FROM t, unnest(CASE WHEN len(toks) >= 10
                          THEN range(1, len(toks) - 8, 5) ELSE [] END) AS u(i)
    )
    SELECT doc_id, start_tok, passage,
           COUNT(*) OVER (PARTITION BY passage) AS n_copies,
           COUNT(DISTINCT doc_id) OVER (PARTITION BY passage) AS n_docs,
           ROW_NUMBER() OVER (PARTITION BY passage ORDER BY doc_id, start_tok) = 1
             AS is_canonical
    FROM occ
    QUALIFY COUNT(*) OVER (PARTITION BY passage) > 1
    """,
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (Lee et al.-style): every 10-token window
    (stride 5) occurring more than once in the corpus, per occurrence, with
    group stats and a canonical-occurrence flag. Doc-level dedup misses
    shared spans inside otherwise-distinct documents; this is the operator
    that finds them. range(1, len-8, 5) in the oracle = full-window starts
    1, 6, 11, … ≤ len-9, matching the Spark side's strided window filter."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.passage_exact_dups(d, id_col="doc_id", text_col="text", window=10, stride=5)


# SimHash bit-vote SQL fragments (shared by the dedup_simhash oracle below
# and the dedup_simhash_verified sibling further down): bit i of the
# signature is set iff the ±1 votes of that bit across the document's token
# multiset sum positive.
_SIMHASH_BITS = 16
_B_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_B_ASSEMBLE = " + ".join(
    f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(_SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 4)) AS BIGINT) AS h
      FROM tok
    ),
    bits AS (SELECT doc_id, {_B_SUMS} FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, {_B_ASSEMBLE} AS simhash FROM bits)
    SELECT simhash, count(*) AS group_size, min(doc_id) AS kept_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members_csv
    FROM sh GROUP BY simhash
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(16) signature groups (collision groups = near-dup clusters),
    with the full member list per group serialized as a CSV string (the
    array form stays available via :func:`dedup.simhash_groups`; scalar
    cells keep the driver's canonicalizer happy — the r3 comparator crash
    was list-typed cells).

    Runs the library's Arrow-batched SimHash kernel under the PORTABLE
    per-token hash (``token_hash="md5_16"`` — first 16 bits of md5,
    expressible identically in DuckDB), so the whole pipeline — tokenize,
    hash, bit votes, signature groupBy, member aggregation — is attested
    by the external hash-check (VERDICT r6 #4; the xxhash64 instantiation
    was stuck on a rows-only waiver because DuckDB lacks xxhash64). The
    xxhash64 fast path stays the library default and keeps its own pytest
    coverage (`test_simhash_deterministic_and_discriminative`).

    Oracle caveat shared with ``dedup_simhash_verified``: a zero-token
    document folds to signature 0 in Spark but vanishes from the oracle's
    explode — no such document exists in the corpus (the verified sibling
    has hash-matched since r5)."""
    d = read_table(spark, sf_dir, "documents")
    groups = dedup.simhash_groups(
        d, id_col="doc_id", text_col="text", bits=16, token_hash="md5_16"
    )
    return groups.select(
        "simhash",
        "group_size",
        "kept_id",
        F.array_join(
            F.transform("members", lambda m: m.cast("string")), ","
        ).alias("members_csv"),
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.3
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked embedding-cosine near-dup pairs (block = label) — the exact
    small-block path; for large or absent blocks use the LSH entry below."""
    e = read_table(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.3
    )


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH aug AS ({_AUG_SQL})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.9
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked embedding near-dup via banded hyperplane LSH + exact
    cosine verification, at confidence threshold 0.9 on the planted-dup
    augmented table. Band parameters are ADAPTIVE (r8 scan fix): (r=8,
    B=32) at oracle SF, growing with log(n) so the band-signature space
    never saturates; the banding calculus keeps the per-pair miss ≤2e-5
    at the threshold for every corpus size, and the planted pairs
    (cos ≥ 0.98) miss with ≤4e-17 — so on fixed data the LSH output
    equals the exact global pair set, which is what the O(n²) oracle
    (that only the oracle pays) computes. Same construction as
    ``dedup_minhash_verified``: the operator under test stays the banded
    equi-join."""
    aug = _augmented_embeddings(spark, sf_dir)
    return dedup.embedding_lsh_pairs(
        aug, id_col="vec_id", vec_col="embedding", threshold=0.9
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE
    emb AS ({_PLANT_SQL}),
    pairs AS ({_PLANTED_PAIRS}),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, e.v FROM reach r JOIN sym e ON r.b = e.u
    )
    SELECT a AS member_id, min(b) AS kept_id, a = min(b) AS is_kept
    FROM reach GROUP BY a
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS via iterative connected components over the
    near-dup pair graph (ext.graph: min-label propagation, O(log n)
    self-join iterations, lineage checkpointed). Candidate pairs come
    from the UNBLOCKED banded-LSH path over the planted-dup table
    (`_planted_lsh_pairs`, threshold 0.9) — the same non-quadratic
    candidate stage the corpus dedup/split entries use; round 5's
    blocked all-pairs stage at threshold 0.3 was the last quadratic
    consumer and is gone (plan-asserted: no per-block self-join in the
    DAG). The DuckDB oracle computes the same components with a
    recursive transitive closure — tractable at oracle scale,
    quadratic-in-cluster-size at 100 TB, which is why the engine
    iterates instead."""
    from ibc_spark.ext.graph import dedup_clusters

    pairs = _planted_lsh_pairs(spark, sf_dir)
    return dedup_clusters(pairs).select("member_id", "kept_id", "is_kept")


@query(
    "corpus_dedup_materialize",
    oracle=f"""
    WITH RECURSIVE
    emb AS ({_PLANT_SQL}),
    pairs AS ({_PLANTED_PAIRS}),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, e.v FROM reach r JOIN sym e ON r.b = e.u
    ),
    labels AS (SELECT a AS member_id, min(b) AS kept_id FROM reach GROUP BY a)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT member_id FROM labels WHERE member_id <> kept_id)
    """,
)
def corpus_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup MATERIALIZATION: emit the cleaned corpus
    itself, not just the dup report — documents whose embedding is a
    near-dup (cosine ≥ 0.9) of a lower-id document are dropped; cluster
    canonicals and never-paired docs survive. Dup pairs are planted by the
    ``_PLANT_SQL`` fixture so the drop set is non-trivial at oracle SF.

    Pipeline shape at scale: candidate pairs via UNBLOCKED banded
    hyperplane LSH + exact cosine verify (``dedup.embedding_lsh_pairs`` —
    band equi-joins, nothing quadratic in the corpus) → connected
    components (iterative min-label, ``ext.graph``) → non-canonical member
    ids (small: one row per dropped doc) → LEFT ANTI join against the full
    corpus. The anti join broadcasts the drop list when it fits; the
    corpus is never collected or re-shuffled."""
    from ibc_spark.ext.graph import dedup_clusters

    docs = read_table(spark, sf_dir, "documents")
    pairs = _planted_lsh_pairs(spark, sf_dir)
    drop = (
        dedup_clusters(pairs)
        .where(~F.col("is_kept"))
        .select(F.col("member_id").alias("doc_id"))
    )
    return docs.join(F.broadcast(drop), on="doc_id", how="left_anti").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "dedup_canonical_priority",
    oracle=f"""
    WITH RECURSIVE
    emb AS ({_PLANT_SQL}),
    pairs AS ({_PLANTED_PAIRS}),
    sym AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
      SELECT u, u FROM sym
      UNION
      SELECT r.a, e.v FROM reach r JOIN sym e ON r.b = e.u
    ),
    comp AS (SELECT a AS member_id, min(b) AS cluster_id FROM reach GROUP BY a),
    scored AS (
      SELECT c.cluster_id, c.member_id, d.source,
             CAST(substr(d.source, 4) AS INT) % 5 AS prio
      FROM comp c JOIN documents d ON d.doc_id = c.member_id
    )
    SELECT cluster_id, member_id, source,
           first_value(member_id) OVER (
             PARTITION BY cluster_id ORDER BY prio DESC, member_id ASC
           ) AS canonical_id,
           member_id = first_value(member_id) OVER (
             PARTITION BY cluster_id ORDER BY prio DESC, member_id ASC
           ) AS is_canonical
    FROM scored
    """,
)
def dedup_canonical_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLICY-driven canonical election: within each near-dup cluster keep
    the member from the highest-priority SOURCE (the wiki-over-CommonCrawl
    rule real corpus dedup applies — provenance, not arrival order,
    decides which copy survives), ties broken toward the lower doc_id.
    Priority here is a deterministic projection of the fixture's source
    tag (numeric suffix mod 5); production swaps in a broadcast
    source→priority map — same plan.

    Plan: the proven non-quadratic cluster machinery
    (`_planted_lsh_pairs` banded LSH → iterative min-label components),
    the member→source join, then ONE map-side-combinable
    ``max(struct(prio, -member_id))`` per cluster (the
    `argmax_order_per_customer` struct-max idiom — no window over
    members) re-joined cluster-key-to-cluster-key. The oracle spells the
    election with first_value windows over the recursive-CTE closure —
    the oracle's luxury at sf0.01. Compare `corpus_dedup_materialize`,
    whose canonical is the min member id: same clusters, different
    policy, both faces oracled."""
    from ibc_spark.ext.graph import dedup_clusters

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = dedup_clusters(_planted_lsh_pairs(spark, sf_dir)).select(
        F.col("kept_id").alias("cluster_id"), "member_id"
    )
    prio = F.substring("source", 4, 10).cast("int") % 5
    scored = clusters.join(
        docs, clusters["member_id"] == docs["doc_id"]
    ).select("cluster_id", "member_id", "source", prio.alias("prio"))
    elect = scored.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("prio"), (-F.col("member_id")).alias("nid"))).alias("w")
    )
    return (
        scored.join(elect, on="cluster_id")
        .select(
            "cluster_id",
            "member_id",
            "source",
            (-F.col("w.nid")).alias("canonical_id"),
            (F.col("member_id") == -F.col("w.nid")).alias("is_canonical"),
        )
    )


@query(
    "dedup_exact_content_sha",
    oracle="""
    SELECT sha256(text) AS content_sha,
           min(doc_id) AS kept_id,
           count(*) AS group_size
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_content_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact full-content dedup on a SHA-256 content address — the
    byte-identical-document pass that runs before any fuzzy method (and
    the key a content-addressed store dedups on). One hash groupBy — a
    single shuffle whose keys are 64-char digests, so the shuffle carries
    no document bodies; collision probability is cryptographically nil,
    making min-id canonical selection deterministic at any scale."""
    d = read_table(spark, sf_dir, "documents")
    return d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha")).agg(
        F.min("doc_id").alias("kept_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Round 5: oracle-verifiable simhash sibling, corpus mixing/sampling,
# range similarity search, percentile length trim
# ---------------------------------------------------------------------------

@query(
    "dedup_simhash_verified",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 4)) AS BIGINT) AS h
      FROM tok
    ),
    bits AS (SELECT doc_id, {_B_SUMS} FROM h GROUP BY doc_id),
    sh AS (SELECT doc_id, {_B_ASSEMBLE} AS simhash FROM bits)
    SELECT simhash, min(doc_id) AS kept_id, count(*) AS group_size
    FROM sh GROUP BY simhash
    """,
)
def dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-VERIFIABLE SimHash sibling of ``dedup_simhash``: same
    signature-groupBy dedup shape, but the per-token hash is the first 16
    bits of md5 — expressible identically in any engine — instead of
    xxhash64 (which DuckDB lacks, forcing the production entry onto the
    rows-only check). Bit i of the signature is set iff the ±1 votes of
    that bit across the document's token multiset sum positive.

    Plan: explode tokens → 16 codegen CASE sums in ONE map-side-combining
    groupBy (no UDF, no second shuffle for the signature assembly) → hash
    groupBy on the signature. Same two-shuffle cost at 100 TB as the
    xxhash64 form; md5-vs-xxhash only changes per-token CPU constant."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    assemble = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        assemble = term if assemble is None else assemble + term
    per_doc = sums.select("doc_id", assemble.cast("long").alias("simhash"))
    return per_doc.groupBy("simhash").agg(
        F.min("doc_id").alias("kept_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


@query(
    "profile_dup_rate_by_source",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(DISTINCT sha256(text)) AS n_unique,
           round(1.0 - CAST(count(DISTINCT sha256(text)) AS DOUBLE) / count(*), 6)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def profile_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication profile: how much of each source is
    byte-identical copies (1 - distinct content hashes / docs) — the
    health metric a crawl pipeline watches per domain to catch mirror
    explosions before they skew the training mix.

    Plan: content-address first (SHA-256 projection), then ONE
    count-distinct aggregation keyed by source — Spark plans it as the
    standard two-phase distinct expand; only digests travel, never
    bodies."""
    d = read_table(spark, sf_dir, "documents")
    sha = F.sha2(F.col("text"), 256)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(sha).alias("n_unique"),
        F.round(
            1.0 - F.countDistinct(sha).cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


@query(
    "dedup_passage_neardup",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 100),
    planted AS (
      SELECT r.doc_id,
             CASE WHEN r.doc_id % 7 = 0 AND len(r.toks) >= 16 AND len(d.toks) >= 10
                  THEN list_concat(list_concat(list_slice(r.toks, 1, 5),
                                               list_slice(d.toks, 1, 10)),
                                   list_slice(r.toks, 16, len(r.toks)))
                  ELSE r.toks END AS toks
      FROM raw r LEFT JOIN raw d ON d.doc_id = r.doc_id + 1
    ),
    p AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks) - 8, 1), 5),
             i -> {{'pid': doc_id * 100000 + i,
                    'sh': list_distinct(list_transform(range(i, i + 9),
                          j -> toks[j] || ' ' || toks[j + 1]))}}), recursive := true)
      FROM planted
    )
    SELECT a.pid AS id_a, b.pid AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM p a JOIN p b ON a.pid < b.pid
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
)
def dedup_passage_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level NEAR-dup pairs: 10-token strided windows treated as
    mini-documents and pushed through the SAME banded-MinHash machinery as
    the doc-level entries (k=64/16 bands over 2-gram shingles, confidence
    threshold 0.8, exact-Jaccard verified) — catching cross-document span
    reuse that `dedup_paragraph_exact`'s exact window hash misses when
    the surrounding text differs.

    Fixture: docs with doc_id%7==0 take their successor's first 10 tokens
    as tokens 6–15 (a stride-aligned shared window, same planted-dup
    discipline as the embedding entries) so the finding is non-trivial at
    oracle SF. pid = doc_id·100000 + 1-based start token, so span
    provenance round-trips arithmetically. Scoped to doc_id < 100 because
    the ORACLE is the O(passages²) cross join only the oracle pays; the
    operator stays the banded equi-join and scales like the doc-level
    entries. Same determinism argument as `dedup_minhash_verified`:
    fixed seeds → on fixed data the LSH output equals the exact pair
    set."""
    from pyspark.sql.functions import pandas_udf

    window, stride = 10, 5

    @pandas_udf("array<struct<pid:long,passage:string>>")
    def pass_np(ids: pd.Series, toks_s: pd.Series) -> pd.Series:
        out = []
        for did, t in zip(ids, toks_s):
            if t is None or len(t) < window:
                out.append([])
            else:
                tl = list(t)
                out.append(
                    [
                        (int(did) * 100000 + i + 1, " ".join(tl[i : i + window]))
                        for i in range(0, len(tl) - window + 1, stride)
                    ]
                )
        return pd.Series(out)

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    raw = d.select("doc_id", text.tokens(F.col("text")).alias("toks"))
    donor = raw.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("toks").alias("d_toks")
    )
    toks = F.col("toks")
    planted = raw.join(donor, on="doc_id", how="left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7 == 0)
            & (F.size(toks) >= 16)
            & (F.size(F.col("d_toks")) >= 10),
            F.concat(
                F.slice(toks, 1, 5),
                F.slice(F.col("d_toks"), 1, 10),
                F.slice(toks, 16, F.size(toks) - 15),
            ),
        )
        .otherwise(toks)
        .alias("toks"),
    )
    passages = planted.select(
        F.explode(pass_np(F.col("doc_id"), F.col("toks"))).alias("p")
    ).select("p.pid", "p.passage")
    return dedup.minhash_lsh_pairs(
        passages, id_col="pid", text_col="passage", k=64, bands=16, n=2, threshold=0.8
    )

@query(
    "dedup_spans_rewrite",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks,
                      list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                        AS rawtoks
               FROM documents),
    occ AS (
      SELECT doc_id, CAST(u.i AS INT) AS start_tok,
             array_to_string(list_slice(toks, u.i, u.i + 9), ' ') AS passage
      FROM t, unnest(CASE WHEN len(toks) >= 10
                          THEN range(1, len(toks) - 8, 1) ELSE [] END) AS u(i)
    ),
    marked AS (
      SELECT doc_id, start_tok,
             COUNT(*) OVER (PARTITION BY passage) AS n_occ,
             ROW_NUMBER() OVER (PARTITION BY passage
                                ORDER BY doc_id, start_tok) AS rk
      FROM occ
    ),
    cuts AS (SELECT doc_id, start_tok FROM marked WHERE n_occ > 1 AND rk > 1),
    sw AS (
      SELECT doc_id, start_tok,
             CASE WHEN max(start_tok + 9) OVER (PARTITION BY doc_id
                    ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR start_tok > max(start_tok + 9) OVER (PARTITION BY doc_id
                    ORDER BY start_tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS opens
      FROM cuts
    ),
    sp AS (
      SELECT doc_id, start_tok,
             sum(opens) OVER (PARTITION BY doc_id ORDER BY start_tok
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM sw
    ),
    spans AS (
      SELECT doc_id, min(start_tok) AS s, max(start_tok) + 9 AS e
      FROM sp GROUP BY doc_id, span_id
    ),
    tokpos AS (
      SELECT doc_id, CAST(u.i AS INT) AS pos, rawtoks[u.i] AS tok
      FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    kept AS (
      SELECT tp.doc_id, tp.pos, tp.tok
      FROM tokpos tp
      WHERE NOT EXISTS (SELECT 1 FROM spans s
                        WHERE s.doc_id = tp.doc_id AND tp.pos BETWEEN s.s AND s.e)
    ),
    agg AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(agg.kept_n, 0) AS BIGINT) AS cut_tokens,
           CAST(coalesce(agg.kept_n, 0) AS BIGINT) AS kept_tokens,
           coalesce(agg.txt, '') AS cleaned_text
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """,
)
def dedup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY substring dedup — every document rewritten with its
    non-canonical duplicated spans cut (Lee et al. 2022's actual output;
    ``dedup_duplicate_spans`` reports the spans, this entry emits the
    cleaned corpus). Canonical occurrence of each duplicated 10-gram = min
    (doc_id, start_tok); per-doc cut windows gap-merge into maximal
    ranges; cleaned text is the surviving tokens in original order."""
    d = read_table(spark, sf_dir, "documents")
    return dedup.spans_rewrite(d, id_col="doc_id", text_col="text", window=10)


@query(
    "dedup_boilerplate_ccnet",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    d AS (
      SELECT DISTINCT doc_id, source,
             array_to_string(list_slice(toks, u.i, u.i + 4), ' ') AS passage
      FROM t, unnest(CASE WHEN len(toks) >= 5
                          THEN range(1, len(toks) - 3, 1) ELSE [] END) AS u(i)
    ),
    dfq AS (
      SELECT source, passage, count(DISTINCT doc_id) AS doc_freq
      FROM d GROUP BY 1, 2
    ),
    per AS (
      SELECT d.doc_id,
             count(*) AS n_passages,
             sum(CASE WHEN dfq.doc_freq >= 2 THEN 1 ELSE 0 END) AS n_boilerplate
      FROM d JOIN dfq ON d.source = dfq.source AND d.passage = dfq.passage
      GROUP BY 1
    )
    SELECT t.doc_id, t.source,
           CAST(coalesce(per.n_passages, 0) AS BIGINT) AS n_passages,
           CAST(coalesce(per.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
           CAST(floor(coalesce(per.n_boilerplate, 0) * 1000000.0
                / greatest(coalesce(per.n_passages, 0), 1)) AS BIGINT)
             AS boilerplate_ppm
    FROM t LEFT JOIN per ON t.doc_id = per.doc_id
    """,
)
def dedup_boilerplate_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate share per document (Wenzek et al. 2020,
    re-keyed to stride-1 5-grams — the corpus has no line structure): a
    5-gram is boilerplate within a SOURCE when ≥2 distinct docs of that
    source contain it (mirror/template chrome); per doc, the distinct
    5-grams and how many are boilerplate. boilerplate_ppm is exact integer
    arithmetic (floor of parts-per-million) — no float rounding to diverge
    between engines. One (source, passage) shuffle + one per-doc shuffle;
    nothing pairwise."""
    d = read_table(spark, sf_dir, "documents")
    per = dedup.boilerplate_passages(
        d, id_col="doc_id", text_col="text", group_col="source", n=5, min_docs=2
    )
    return per.select(
        "doc_id",
        "source",
        "n_passages",
        "n_boilerplate",
        F.floor(
            F.col("n_boilerplate") * 1000000.0
            / F.greatest(F.col("n_passages"), F.lit(1))
        )
        .cast("long")
        .alias("boilerplate_ppm"),
    )
