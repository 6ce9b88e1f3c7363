"""Text-analysis registry entries (split from registry_ext, round 8 —
VERDICT r7 #7): token counting, quality metrics/gate, language ID,
fingerprinting, repetition/PII, normalization, BM25, compression
ratio, bigram PMI, LM log-prob, fuzzy name resolution. Entry names and
oracles unchanged.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ibc_spark.ext import dedup, multimodal, similarity, text  # noqa: F401
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
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_pieces
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counting (pure codegen, zero shuffle)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_ish_count("text").alias("n_pieces"),
    )


@query(
    "text_quality_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> length(t))),
                            (acc,x) -> acc + x) AS DOUBLE) / greatest(len(toks), 1) AS avg_token_len,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
           CAST(len(list_filter(toks, t -> list_contains(['the','of','and','to','in','is','a'], t))) AS DOUBLE)
               / greatest(len(toks), 1) AS stopword_ratio
    FROM t
    """,
)
def text_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: sizes, avg token length, punctuation + stopword
    ratios — the filter columns of a pretraining quality gate."""
    d = read_table(spark, sf_dir, "documents")
    m = text.quality_metrics("text")
    return d.select("doc_id", *[expr.alias(name) for name, expr in m.items()])


_LANG_HITS = {
    "en": "['the','of','and','to','in','is','a']",
    "es": "['el','la','de','que','y','los','una']",
    "de": "['der','die','und','das','ist','von','ein']",
    "fr": "['le','les','et','des','est','une','dans']",
}
_LANG_COUNTS = ", ".join(
    f"len(list_filter(toks, t -> list_contains({lst}, t))) AS c_{lang}"
    for lang, lst in _LANG_HITS.items()
)


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, text, {_LANG_COUNTS} FROM t)
    SELECT doc_id,
           CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                WHEN c_en > 0 AND c_en >= greatest(c_en, c_es, c_de, c_fr) THEN 'en'
                WHEN c_es > 0 AND c_es >= greatest(c_en, c_es, c_de, c_fr) THEN 'es'
                WHEN c_de > 0 AND c_de >= greatest(c_en, c_es, c_de, c_fr) THEN 'de'
                WHEN c_fr > 0 AND c_fr >= greatest(c_en, c_es, c_de, c_fr) THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM c
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (CJK fast path, en→es→de→fr ties)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id("text").alias("lang_pred"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                                    list_transform(string_split(text, ''), c -> ascii(c))),
                       (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (engine-portable left fold)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint("text").alias("fp"))


@query(
    "text_quality_gate",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                 / greatest(length(text), 1) AS punct_ratio,
             CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','is','a'], x))) AS DOUBLE)
                 / greatest(len(toks), 1) AS stopword_ratio
      FROM t
    )
    SELECT doc_id,
           n_tokens BETWEEN 10 AND 5000
             AND punct_ratio < 0.30
             AND stopword_ratio >= 0.01 AS keep,
           concat(
             CASE WHEN n_tokens NOT BETWEEN 10 AND 5000 THEN 'length;' ELSE '' END,
             CASE WHEN punct_ratio >= 0.30 THEN 'punct;' ELSE '' END,
             CASE WHEN stopword_ratio < 0.01 THEN 'stopwords;' ELSE '' END
           ) AS drop_reasons
    FROM m
    """,
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pretraining quality gate: length + punctuation + stopword
    thresholds → keep/drop with stacked reason codes (errors-as-data, same
    convention as the validation quarantine)."""
    d = read_table(spark, sf_dir, "documents")
    m = text.quality_metrics("text")
    scored = d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["punct_ratio"].alias("punct_ratio"),
        m["stopword_ratio"].alias("stopword_ratio"),
    )
    bad_len = ~F.col("n_tokens").between(10, 5000)
    bad_punct = F.col("punct_ratio") >= 0.30
    bad_stop = F.col("stopword_ratio") < 0.01
    return scored.select(
        "doc_id",
        (~bad_len & ~bad_punct & ~bad_stop).alias("keep"),
        F.concat(
            F.when(bad_len, "length;").otherwise(""),
            F.when(bad_punct, "punct;").otherwise(""),
            F.when(bad_stop, "stopwords;").otherwise(""),
        ).alias("drop_reasons"),
    )


@query(
    "text_repetition_metrics",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    counts AS (
      SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct,
             MAX(cnt) AS top_cnt
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(n_tokens - n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS dup_token_frac,
           CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac
    FROM per_doc
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction
    of tokens that are repeats of an earlier token and the share of the
    single most frequent token. Explode → (doc, term) partial count →
    per-doc rollup: two map-side-combining aggregations on the same doc_id
    key (AQE coalesces them into one shuffle's worth of group-level rows),
    instead of an O(n²) per-row higher-order-function scan — the shape that
    survives book-length documents at 100 TB."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("term"))
    counts = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    nt = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        ((F.col("n_tokens") - F.col("n_distinct")).cast("double") / nt).alias(
            "dup_token_frac"
        ),
        (F.col("top_cnt").cast("double") / nt).alias("top_token_frac"),
    )


@query(
    "text_pii_scrub",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact ' || source || '@example.com or 555-123-4567'
                 AS seeded_text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(seeded_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(seeded_text, '\\d{3}-\\d{3}-\\d{4}'))
               AS n_redactions,
           regexp_replace(
             regexp_replace(seeded_text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS scrubbed
    FROM seeded
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text: emails and phone-shaped numbers replaced by
    typed placeholders, with a per-document redaction count. The testdata
    corpus is synthetic word-soup, so deterministic PII is seeded into each
    row first — the parity check then proves the Java-regex and RE2 engines
    scrub identically. Pure projection: runs inside the scan's codegen
    stage, no shuffle (patterns kept to RE2-safe syntax; see
    ``ext.text.EMAIL_RE``)."""
    d = read_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("@example.com or 555-123-4567"),
    )
    return d.select(
        "doc_id",
        text.pii_redaction_count(seeded).alias("n_redactions"),
        text.pii_scrub(seeded).alias("scrubbed"),
    )


@query(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                               '\s+', ' ', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                           '\s+', ' ', 'g'))) AS BIGINT) AS n_norm_chars
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip punctuation, collapse
    whitespace) — the shared preprocessing for dedup keys, fingerprints and
    tokenizer input. Pure projection in scan codegen; zero shuffle.

    Scale note (r10 tail sweep): exp 1.05 per decade, 22 s at sf10 — the
    cost is the regex chain itself, linear in bytes (a
    full-width widen A/B at sf3/sf10 made it WORSE at sf3 and flat at
    sf10: the scan is already wide enough here, and the widen's full-text
    shuffle is pure overhead — kept zero-shuffle on that measurement)."""
    d = read_table(spark, sf_dir, "documents")
    norm = text.normalize("text")
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_norm_chars"),
    )


@query(
    "bm25_keyword_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE term IN ('model', 'data', 'training')
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
             ) AS score
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored
    ORDER BY round(score, 4) DESC, doc_id
    LIMIT 20
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the lexical side of hybrid search over a training corpus.

    Plan shape: tokenize → explode → FILTER TO QUERY TERMS BEFORE the
    (doc, term) count (the filter reaches the explode, so the one shuffle
    carries only query-term postings, not the whole corpus vocabulary);
    document frequency is a term-window COUNT over that tiny aggregate;
    N and avgdl are a one-row broadcast; final top-20 compiles to
    TakeOrderedAndProject. Sums are per-(doc,term) single values folded in
    doubles in deterministic term order short of reordering — the
    defensive round(4) plus ≤3 summands keeps both engines identical."""
    from pyspark.sql import Window

    terms = ["model", "data", "training"]
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", text.tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    wdf = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wdf))
        .join(dl, on="doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "part",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            )
            * (F.col("tf") * 2.2)
            / (
                F.col("tf")
                + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_compression_ratio",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE text IS NOT NULL AND len(text) > 0)
                AS BIGINT) AS n_docs_scored,
           CAST(count(*) FILTER (WHERE text IS NULL OR len(text) = 0)
                AS BIGINT) AS n_unscored,
           CAST(0 AS BIGINT) AS range_violations,
           CAST(0 AS BIGINT) AS doubling_violations
    FROM documents
    """,
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality-signal ATTESTATION (VERDICT r8 #2 option
    (a) — formerly rows-only: no SQL engine exposes zlib, so the per-doc
    ratios themselves cannot be value-checked externally). The production
    operator (``ext.text.compression_ratio``) runs over every document
    and the entry emits the deterministic invariant surface DuckDB CAN
    check:

    - ``n_docs_scored`` / ``n_unscored`` — data-derived NULL/empty
      accounting (the UDF scores exactly the non-empty docs);
    - ``range_violations`` — among docs ≥64 chars, ratios outside
      (0, 1.2] (zlib's worst-case expansion on incompressible input is
      a ~11-byte header + 5 bytes per 16 KB block, < 0.2 at 64 chars);
    - ``doubling_violations`` — ratio(text‖text) must not exceed
      ratio(text) + 0.05 for docs ≥64 chars: doubled text back-references
      its first half, so the ratio roughly HALVES — a property only a
      real compressor exhibits, which is what makes this a machinery
      attestation rather than a tautology.

    Both violation counts are 0 by zlib's algebra on ANY data, so the
    oracle states them as constants; the data-derived counts prove the
    scan covered the corpus. Per-doc ratios: ``ext.text.compression_ratio``
    (pytest pins discrimination + determinism)."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.length("text").alias("n"),
        text.compression_ratio("text").alias("r"),
        text.compression_ratio(F.concat(F.col("text"), F.col("text"))).alias("r2"),
    )
    return scored.agg(
        F.coalesce(F.sum(F.when(F.col("r").isNotNull(), 1)), F.lit(0)).alias(
            "n_docs_scored"
        ),
        F.coalesce(F.sum(F.when(F.col("r").isNull(), 1)), F.lit(0)).alias(
            "n_unscored"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") >= 64)
                    & ((F.col("r") <= 0) | (F.col("r") > 1.2)),
                    1,
                )
            ),
            F.lit(0),
        ).alias("range_violations"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") >= 64) & (F.col("r2") > F.col("r") + 0.05), 1
                )
            ),
            F.lit(0),
        ).alias("doubling_violations"),
    )


@query(
    "text_bigram_pmi",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
                    i -> {{'w1': toks[i], 'w2': toks[i+1]}}), recursive := true)
      FROM t
    ),
    uni AS (SELECT unnest(toks) AS w FROM t),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nuni AS (SELECT count(*) AS n FROM uni),
    bcnt AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2),
    nbig AS (SELECT count(*) AS n FROM big)
    SELECT b.w1, b.w2, b.c AS pair_count,
           round(ln((CAST(b.c AS DOUBLE) / nb.n) / ((CAST(u1.c AS DOUBLE) / nu.n) * (CAST(u2.c AS DOUBLE) / nu.n))), 4) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON u1.w = b.w1
    JOIN ucnt u2 ON u2.w = b.w2
    CROSS JOIN nbig nb CROSS JOIN nuni nu
    WHERE b.c >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: top-20 bigrams by PMI (pointwise mutual
    information, min pair count 5) — the classic phrase-mining /
    boilerplate-detection statistic (high-PMI pairs are collocations;
    recurring high-count low-PMI pairs are template noise).

    Plan shape at scale: bigrams come from two shifted array slices
    zip_with'd per document (narrow), one explode each for bigram and
    unigram streams, map-side-combining counts on both, then the bigram
    count frame joins the (vocabulary-sized) unigram counts twice by
    word — plain equi-joins, skew-bounded by the count>=5 pre-filter
    pushed BEFORE the joins. The two 1-row totals are broadcast. Final
    top-20 is orderBy+limit = TakeOrderedAndProject, never a global
    sort. Ordering key is (rounded pmi desc, w1, w2) in both engines so
    the cut is deterministic."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select(text.tokens(F.col("text")).alias("toks"))
    npairs = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, npairs),
        F.slice(F.col("toks"), 2, npairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = t.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    uni = t.select(F.explode("toks").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nuni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    nbig = big.agg(F.count(F.lit(1)).alias("n_big"))
    joined = (
        bcnt.where(F.col("pair_count") >= 5)
        .join(ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(nbig))
        .crossJoin(F.broadcast(nuni))
    )
    pmi = F.round(
        F.log(
            (F.col("pair_count").cast("double") / F.col("n_big"))
            / (
                (F.col("c1").cast("double") / F.col("n_uni"))
                * (F.col("c2").cast("double") / F.col("n_uni"))
            )
        ),
        4,
    )
    return (
        joined.select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "lm_bigram_logprob",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks), 1)),
                    i -> {{'w1': toks[i], 'w2': toks[i+1]}}), recursive := true)
      FROM t
    ),
    uni AS (SELECT unnest(toks) AS w FROM t),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    vocab AS (SELECT count(*) AS v FROM ucnt),
    bcnt AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY w1, w2)
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(ln((bc.c + 1.0) / (uc.c + vocab.v))), 4) AS avg_logprob
    FROM big b
    JOIN bcnt bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN ucnt uc ON uc.w = b.w1
    CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model QUALITY SCORE per document: mean bigram conditional
    log-probability under the corpus's own add-one-smoothed MLE — the
    perplexity-filter shape (CCNet/KenLM-style) pretraining pipelines use
    to rank fluent text above gibberish/boilerplate, self-contained (the
    corpus is its own model, no external LM artifact).

    score(d) = mean over d's bigrams of ln((c(w1,w2)+1) / (c(w1)+V)).

    Plan shape: the bigram stream (shifted-slice zip_with, as in
    `text_bigram_pmi`) is both the model-estimation input (two map-side-
    combining counts) and the scoring input (two equi-joins back by word
    pair/word — vocabulary-keyed shuffles, skew-bounded by Zipf's law at
    the partial-agg stage); the 1-row vocab size broadcasts. Docs with
    fewer than two tokens have no bigrams and drop out (inner-join
    semantics, mirrored by the oracle). Division operands are exact
    integers-to-double on both engines, so the single ln per bigram is
    the only float op before the defensive ROUND."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select("doc_id", text.tokens(F.col("text")).alias("toks"))
    npairs = F.greatest(F.size("toks") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, npairs),
        F.slice(F.col("toks"), 2, npairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = t.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    uni = t.select(F.explode("toks").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    vocab = ucnt.agg(F.count(F.lit(1)).alias("v"))
    bcnt = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(ucnt.withColumnRenamed("w", "w1").withColumnRenamed("c_w", "c_w1"), "w1")
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.avg(F.log((F.col("c_xy") + F.lit(1.0)) / (F.col("c_w1") + F.col("v")))), 4
        ).alias("avg_logprob"),
    )


@query(
    "fuzzy_resolve_names",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS dirty_key,
             concat(substr(c_name, 1, (c_custkey % 12 + 4) - 1),
                    substr(c_name, c_custkey % 12 + 5)) AS dirty_name
      FROM customer WHERE c_custkey % 5 = 0
    ),
    pairs AS (
      SELECT d.dirty_key, c.c_custkey AS matched_key,
             levenshtein(d.dirty_name, c.c_name) AS dist
      FROM dirty d JOIN customer c ON levenshtein(d.dirty_name, c.c_name) <= 1
    )
    SELECT dirty_key, matched_key, CAST(dist AS BIGINT) AS dist
    FROM (SELECT *, row_number() OVER (PARTITION BY dirty_key
                                       ORDER BY dist, matched_key) AS rk
          FROM pairs)
    WHERE rk = 1
    """,
)
def fuzzy_resolve_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION: map corrupted customer names (one planted char
    deletion per c_custkey%5==0 row, position varying by key) back to
    their canonical records despite the typo — the fuzzy-key lookup the
    reference's exact email/netid joins (J1/J2) cannot do.

    Candidates come from `ext.dedup.symdelete_fuzzy_join` — SymSpell
    symmetric-delete blocking turns the edit-distance-1 join into a hash
    EQUI-join on deletion variants (the naive `levenshtein<=1` predicate
    compiles to a quadratic BroadcastNestedLoopJoin) — then each dirty
    name keeps its best match (min distance, tie-break on matched key).
    The DuckDB oracle runs the naive quadratic join, fine at oracle SF.
    A handful of dirty names legitimately resolve to a near-neighbor id
    (names differing only at the deleted digit); the ranked pick makes
    that deterministic in both engines."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    dirty = c.where(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.expr(
            "concat(substr(c_name, 1, c_custkey % 12 + 3),"
            " substr(c_name, c_custkey % 12 + 5))"
        ).alias("dirty_name"),
    )
    matches = dedup.symdelete_fuzzy_join(
        dirty,
        c.select("c_custkey", "c_name"),
        left_id="dirty_key",
        left_text="dirty_name",
        right_id="c_custkey",
        right_text="c_name",
    )
    w = Window.partitionBy("dirty_key").orderBy(F.col("dist"), F.col("c_custkey"))
    return (
        matches.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("dirty_key", F.col("c_custkey").alias("matched_key"), "dist")
    )




@query(
    "text_token_entropy",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
    ent AS (
      SELECT tf.doc_id,
             sum(CAST(round(
                   (CAST(c AS DOUBLE) / n_tokens)
                     * ln(CAST(n_tokens AS DOUBLE) / c), 12)
                 AS DECIMAL(20, 12))) AS h,
             count(*) AS n_distinct
      FROM tf JOIN dl USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           CAST(dl.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(e.n_distinct, 0) AS n_distinct,
           round(CAST(COALESCE(e.h, 0) AS DOUBLE), 6) AS entropy,
           CASE WHEN dl.n_tokens > 1
                THEN round(CAST(COALESCE(e.h, 0) AS DOUBLE)
                           / ln(CAST(dl.n_tokens AS DOUBLE)), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS entropy_norm
    FROM documents d
    JOIN dl ON d.doc_id = dl.doc_id
    LEFT JOIN ent e ON d.doc_id = e.doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token Shannon entropy per document + the length-normalized
    variant (entropy / ln(n_tokens) ∈ [0,1]) — the repetitiveness /
    gibberish quality signal the ratio metrics miss: spammy low-diversity
    docs score near 0, natural text near its length ceiling. Completes
    the quality family (length/ratio → gopher → repetition → compression
    → entropy).

    Float discipline: each (doc, term) entropy term p·ln(1/p) is rounded
    at 1e-12 and summed as DECIMAL(20,12) — an exact, order-free
    aggregation, so the per-doc sum cannot drift with shuffle order on
    either engine (the registry's pinned-scale DECIMAL convention). One
    explode + one (doc,term) count shuffle + one per-doc sum; group state
    is O(distinct terms of one doc)."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", text.tokens("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("n_tokens"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = (F.col("c").cast("double") / F.col("n_tokens")) * F.log(
        F.col("n_tokens").cast("double") / F.col("c")
    )
    ent = (
        tf.join(dl, on="doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(term, 12).cast("decimal(20,12)")).alias("h"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    return (
        d.select("doc_id")
        .join(dl, on="doc_id")
        .join(ent, on="doc_id", how="left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            F.round(F.coalesce(F.col("h").cast("double"), F.lit(0.0)), 6).alias(
                "entropy"
            ),
            F.when(
                F.col("n_tokens") > 1,
                F.round(
                    F.coalesce(F.col("h").cast("double"), F.lit(0.0))
                    / F.log(F.col("n_tokens").cast("double")),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("entropy_norm"),
        )
    )


# THE one SQL spelling of the quality-feature CTE and the classifier
# logit. Weights interpolate from ``ext.text.QUALITY_LR``, so the Spark
# Column form, this oracle, and the PSI drift oracle can never disagree
# about the model (review, this session: the weights had grown three
# hand-written copies).


def _quality_f_cte(extra_cols: str = "") -> str:
    return f"""
    t AS (SELECT doc_id, {extra_cols} text, {_TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id, {extra_cols}
             len(toks) AS n_tokens,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(toks, t -> length(t))),
                    (acc,x) -> acc + x) AS DOUBLE)
               / greatest(len(toks), 1) AS avg_token_len,
             CAST(len(list_filter(toks,
                    t -> list_contains(['the','of','and','to','in','is','a'], t))) AS DOUBLE)
               / greatest(len(toks), 1) AS stopword_ratio
      FROM t
    )"""


def _quality_logit_sql() -> str:
    w = text.QUALITY_LR
    return (
        f"(CAST({w['intercept']} AS DOUBLE)"
        f" + CAST({w['stopword_ratio']} AS DOUBLE) * stopword_ratio"
        f" + CAST({w['avg_token_len']} AS DOUBLE) * avg_token_len"
        f" + CAST({w['n_tokens']} AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
    )


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH {_quality_f_cte()}
    SELECT doc_id,
           round({_quality_logit_sql()}, 6) AS logit,
           {_quality_logit_sql()} > 0 AS keep
    FROM f
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED-quality-filter inference (the fastText/logreg gate of
    GPT-3/CCNet-style pipelines, here with fixed published weights):
    logit over the portable quality features, keep = logit > 0. The
    whole model is O(weights) literals folded into codegen — the scale
    story of classifier-based filtering is that inference is a free
    projection on the scan, not a service call. The keep flag compares
    the UNROUNDED logit, whose doubles agree bit-for-bit because both
    engines evaluate the identical left-to-right chain over
    IEEE-identical features (the same features `text_quality_metrics`
    hash-matches raw)."""
    d = read_table(spark, sf_dir, "documents")
    z = text.quality_logit("text")
    return d.select(
        "doc_id",
        F.round(z, 6).alias("logit"),
        (z > 0).alias("keep"),
    )


_FH_DIM = 8  # feature-hashing buckets (thousands in production; 8 keeps the
#              oracle surface one column per bucket)
_FH_COLS = ", ".join(
    f"CAST(coalesce(sum(CASE WHEN bucket = {k} THEN sign END), 0) AS BIGINT) AS h{k}"
    for k in range(_FH_DIM)
)


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h1, CAST(('0x' || substr(md5(term), 16, 15)) AS BIGINT) * 2 + 1 AS h2
      FROM tok
    ),
    sgn AS (
      SELECT doc_id, h1 % {_FH_DIM} AS bucket,
             CASE WHEN (h1 >> 3) & 1 = 0 THEN 1 ELSE -1 END AS sign
      FROM h
    )
    SELECT doc_id, {_FH_COLS}
    FROM sgn GROUP BY doc_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009): each token maps to one
    of ``_FH_DIM`` signed buckets by a stateless hash — the fixed-width,
    vocabulary-free featurizer that feeds linear models at any corpus
    size with NO vocabulary build, no broadcast, no second pass. bucket =
    h % dim; sign = parity of the next hash bits (the signed variant that
    makes collisions cancel in expectation). One explode + one per-doc
    aggregation (map-side combinable); the md5 60-bit hash is the
    foldspec-portable spelling, so DuckDB replays every feature exactly.
    Docs with zero tokens do not occur in the corpus (n_chars >= 10)."""
    from ibc_spark.ext.foldspec import md5_double_hash

    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("term"))
    h1, _ = md5_double_hash(F.col("term"))
    sgn = tok.select(
        "doc_id",
        F.pmod(h1, F.lit(_FH_DIM)).alias("bucket"),
        F.when(
            F.shiftright(h1, 3).bitwiseAND(F.lit(1)) == 0, 1
        ).otherwise(-1).alias("sign"),
    )
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("bucket") == k, F.col("sign"))), F.lit(0)
        )
        .cast("long")
        .alias(f"h{k}")
        for k in range(_FH_DIM)
    ]
    return sgn.groupBy("doc_id").agg(*aggs)


@query(
    "vocab_bpe_pair_counts",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS term FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(term)),
                    i -> substr(term, CAST(i AS INT), 2))) AS pair
      FROM tok WHERE length(term) >= 2
    )
    SELECT pair, count(*) AS n_pairs
    FROM pairs GROUP BY pair
    ORDER BY n_pairs DESC, pair LIMIT 20
    """,
)
def vocab_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE round of BPE tokenizer training (Sennrich et al. 2016): count
    every adjacent symbol pair across the corpus (with multiplicity — the
    quantity BPE maximizes) and emit the top-20 merge candidates. The
    highest-count pair is the merge a trainer would apply; iterating
    re-runs this count over re-segmented text. Plan: narrow
    tokenize/pair explode (zero shuffle) → ONE map-side-combinable count
    → TakeOrderedAndProject for the bounded candidate list. At 100 TB
    this is exactly how corpus-scale BPE training distributes: the pair
    histogram is the only shuffled state, O(|symbol pairs|) ≪ corpus."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(text.tokens("text")).alias("term")).where(
        F.length("term") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.expr("transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair"))
        .limit(20)
    )


def quality_psi_frame(d: DataFrame) -> DataFrame:
    """Frame-level core of ``drift_quality_psi`` (callable on any
    (source, text) frame — the registry entry binds it to the corpus, the
    unit test to a planted one, so the TESTED code path IS the entry's):
    bin each doc's quality logit at width 0.25 clamped to [-2, 2), count
    per (source, bin), and fold the PSI terms in bin order."""
    from ibc_spark.ext.foldspec import _ordered_fold

    z = text.quality_logit("text")
    binned = d.select(
        "source",
        F.greatest(
            F.least(F.floor(z * 4.0), F.lit(7)), F.lit(-8)
        ).cast("long").alias("bin"),
    )
    sb = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c_sb"))
    src = sb.groupBy("source").agg(F.sum("c_sb").alias("n_s"))
    b = sb.groupBy("bin").agg(F.sum("c_sb").alias("c_b"))
    tot = b.agg(F.sum("c_b").alias("n"))
    p = F.col("c_sb").cast("double") / F.col("n_s")
    q = F.col("c_b").cast("double") / F.col("n")
    terms = (
        sb.join(src, "source")
        .join(F.broadcast(b), "bin")
        .crossJoin(F.broadcast(tot))
        .select("source", "n_s", "bin", ((p - q) * F.log(p / q)).alias("term"))
    )
    return terms.groupBy("source", F.col("n_s").alias("n_docs")).agg(
        F.round(_ordered_fold(F.col("bin"), F.col("term")), 6).alias("psi")
    )


@query(
    "drift_quality_psi",
    oracle=f"""
    WITH {_quality_f_cte(extra_cols="source,")},
    z AS (
      SELECT doc_id, source,
             CAST(greatest(least(floor({_quality_logit_sql()} * 4.0), 7), -8)
               AS BIGINT) AS bin
      FROM f
    ),
    sb AS (SELECT source, bin, count(*) AS c_sb FROM z GROUP BY 1, 2),
    s AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1),
    b AS (SELECT bin, CAST(sum(c_sb) AS BIGINT) AS c_b FROM sb GROUP BY 1),
    tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n FROM b),
    terms AS (
      SELECT sb.source, sb.bin,
             (CAST(c_sb AS DOUBLE) / n_s - CAST(c_b AS DOUBLE) / n)
               * ln((CAST(c_sb AS DOUBLE) / n_s) / (CAST(c_b AS DOUBLE) / n))
               AS term
      FROM sb JOIN s ON sb.source = s.source
              JOIN b ON sb.bin = b.bin
              CROSS JOIN tot
    )
    SELECT terms.source, s.n_s AS n_docs,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(term ORDER BY bin)), (a, x) -> a + x), 6) AS psi
    FROM terms JOIN s ON terms.source = s.source
    GROUP BY terms.source, s.n_s
    """,
)
def drift_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data DRIFT MONITOR: per-source Population Stability Index
    of the quality-classifier score distribution vs the whole corpus —
    the standard 'did this source's quality profile shift away from the
    mix' alarm (PSI > 0.2 is the classic re-examine threshold). Scores
    bin at width 0.25 clamped to [-2, 2) (integer bin ids — no float
    drift in the keys); PSI is defined over bins the source occupies
    (p > 0, and q > 0 follows since the corpus contains the source).
    Features, weights, and binning share ONE definition with
    ``quality_classifier_score`` on both engines.

    Scale shape: one (source, bin) count shuffle over ≤ sources×32
    groups, tiny equi-joins on the aggregate frames, a 1-row corpus
    total broadcast, and a ≤32-term deterministic bin-ordered fold per
    source (the O(dim)-class whole-group fold the foldspec exempts), so
    Spark and DuckDB sum the identical IEEE doubles in the identical
    order."""
    return quality_psi_frame(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Iterative BPE merge training (round 10)
# ---------------------------------------------------------------------------

_BPE_STEPS = 3

# Symbol-sequence string representation: every symbol wrapped in its own
# '|' delimiters ('|h||e||l||l||o|'), so applying merge (l, r) is a plain
# leftmost-non-overlapping replace of '|l||r|' with '|lr|' — occurrences
# never share characters, which makes engine replace() exactly the BPE
# greedy left-to-right merge in Spark, DuckDB, and Python alike. '|' is
# outside the corpus alphabet; the NOT LIKE guard makes collisions
# impossible on any corpus.
_BPE_W0 = """
      SELECT term,
             '|' || array_to_string(list_transform(range(1, length(term) + 1),
                    i -> substr(term, CAST(i AS INT), 1)), '||') || '|' AS rep,
             n
      FROM (SELECT term, COUNT(*) AS n
            FROM (SELECT unnest({toks}) AS term FROM documents)
            WHERE term NOT LIKE '%|%' GROUP BY term)
"""


def _bpe_iter_sql(k: int) -> str:
    """One DuckDB BPE iteration: re-segment w{k-1}, count adjacent symbol
    pairs with word multiplicity, pick the argmax merge (count DESC, then
    lexicographic — deterministic), apply it via the delimiter replace."""
    return f"""
    p{k} AS (
      SELECT u.pr.l AS l, u.pr.r AS r, SUM(n) AS pair_n
      FROM (SELECT string_split(substring(rep, 2, length(rep) - 2), '||') AS syms, n
            FROM w{k - 1}) t,
           unnest(list_transform(range(1, len(syms)),
                  i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS u(pr)
      GROUP BY 1, 2
    ),
    b{k} AS (SELECT l, r, pair_n FROM p{k} ORDER BY pair_n DESC, l, r LIMIT 1),
    w{k} AS (
      -- LEFT JOIN ON TRUE, not CROSS JOIN: when the corpus exhausts its
      -- pairs before step {k}, b{k} is EMPTY and a cross join would wipe
      -- the histogram (and with it the final-vocabulary rows)
      SELECT term,
             CASE WHEN l IS NULL THEN rep
                  ELSE replace(rep, '|' || l || '||' || r || '|', '|' || l || r || '|')
             END AS rep, n
      FROM w{k - 1} LEFT JOIN b{k} ON TRUE
    )"""


# Shared chained-CTE prefix: w0 (char-segmented word histogram, term kept
# for the apply face) through w{steps} + the per-step argmax b{k}.
_BPE_TRAIN_CTES = "WITH w0 AS ({w0}),".format(
    w0=_BPE_W0.format(toks=_TOKS)
) + ",".join(_bpe_iter_sql(k) for k in range(1, _BPE_STEPS + 1))


_BPE_ORACLE = (
    _BPE_TRAIN_CTES
    + f""",
    merges AS (
      {" UNION ALL ".join(
          f"SELECT 'merge' AS kind, {k} AS step, l AS sym_a, r AS sym_b, "
          f"CAST(pair_n AS BIGINT) AS n FROM b{k}"
          for k in range(1, _BPE_STEPS + 1)
      )}
    ),
    final_syms AS (
      SELECT 'symbol' AS kind, {_BPE_STEPS} AS step,
             u.sym AS sym_a, '' AS sym_b, CAST(SUM(n) AS BIGINT) AS n
      FROM (SELECT string_split(substring(rep, 2, length(rep) - 2), '||') AS syms, n
            FROM w{_BPE_STEPS}) t,
           unnest(syms) AS u(sym)
      GROUP BY 3
      ORDER BY n DESC, sym_a LIMIT 5
    )
    SELECT * FROM merges UNION ALL SELECT * FROM final_syms
    """
)


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    *,
    persist_histogram: bool = False,
    steps: int = _BPE_STEPS,
    checkpoint_every: int = 8,
):
    """Shared BPE training loop: returns ``(w, merge_frames)`` where ``w``
    is the word histogram after ``steps`` merges — columns
    ``(term, rep, n)``, ``rep`` the '|'-delimited symbol segmentation —
    and ``merge_frames`` the per-step 1-row argmax frames.

    ``persist_histogram`` caches the initial vocabulary-sized histogram
    (persistreg-tracked). A/B at sf3: the APPLY face halves (18.1 → 9.6 s
    — its segmentation join re-derives the histogram once per iteration
    subtree), but the train-only face REGRESSES (4.4 → 7.1 s: its argmax
    subtrees already share the histogram exchange via ReusedExchange, so
    the cache only adds a vocabulary-wide serialization) — hence opt-in.

    PRODUCTION MERGE COUNTS (r11): each iteration appends explode/agg/
    join layers to the lineage, so at 100–1000 merges unbounded plan
    growth makes Catalyst analysis the bottleneck (the classic iterative-
    algorithm failure, same as uncheckpointed ALS). Every
    ``checkpoint_every`` iterations the vocabulary-sized histogram is
    ``localCheckpoint``-ed (eager — truncates lineage AND caps analysis
    cost at O(checkpoint_every) layers; the materialized state is |V|
    rows, NOT corpus-sized, so this is cheap by construction). The
    oracled 3-step faces never reach the first checkpoint, so their
    plans are byte-identical to r10."""
    d = read_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(text.tokens("text")).alias("term"))
        .where(~F.col("term").contains("|"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = words.select(
        "term",
        F.concat(
            F.lit("|"),
            F.array_join(
                F.expr("transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
                "||",
            ),
            F.lit("|"),
        ).alias("rep"),
        "n",
    )
    if persist_histogram:
        from ibc_spark.ext.persistreg import persist_tracked

        w = persist_tracked(w)
    merge_frames = []
    for step in range(1, steps + 1):
        syms = F.split(F.expr("substring(rep, 2, length(rep) - 2)"), r"\|\|")
        pairs = (
            w.withColumn("syms", syms)
            .select(
                F.explode(
                    # sequence() is descending for (0, -1) — single-symbol
                    # words need the explicit empty branch
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN"
                        " transform(sequence(0, size(syms) - 2),"
                        "           i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                        " ELSE cast(array() AS array<struct<l: string, r: string>>) END"
                    )
                ).alias("pr"),
                "n",
            )
            .select("pr.l", "pr.r", "n")
        )
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("n").alias("pair_n"))
            .orderBy(F.col("pair_n").desc(), "l", "r")
            .limit(1)
        )
        merge_frames.append(
            best.select(
                F.lit("merge").alias("kind"),
                F.lit(step).alias("step"),
                F.col("l").alias("sym_a"),
                F.col("r").alias("sym_b"),
                F.col("pair_n").cast("long").alias("n"),
            )
        )
        # left join on TRUE, not crossJoin: an empty best (pairs exhausted
        # before the last step) must leave the histogram intact, not wipe it
        w = w.join(F.broadcast(best), F.lit(True), "left").select(
            "term",
            F.when(
                F.col("l").isNull(), F.col("rep")
            )
            .otherwise(
                F.replace(
                    F.col("rep"),
                    F.concat(F.lit("|"), "l", F.lit("||"), "r", F.lit("|")),
                    F.concat(F.lit("|"), "l", F.col("r"), F.lit("|")),
                )
            )
            .alias("rep"),
            "n",
        )
        if step % checkpoint_every == 0 and step < steps:
            # truncate lineage on the |V|-row histogram (see docstring)
            w = w.localCheckpoint(eager=True)
    return w, merge_frames


@query("vocab_bpe_train_merges", oracle=_BPE_ORACLE)
def vocab_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE BPE tokenizer training (Sennrich et al. 2016) — the
    convergent loop ``vocab_bpe_pair_counts`` takes one step of: 3 rounds
    of (count adjacent symbol pairs with word multiplicity → merge the
    argmax pair → re-segment), then the top-5 resulting symbols. Emits
    the learned merge table plus final-vocabulary attestation rows.

    Spark-first shape, exactly how corpus-scale BPE trainers distribute:
    ONE corpus-wide shuffle builds the word histogram; every iteration
    then runs on the VOCABULARY (|V| ≪ corpus) — pair explode is a
    narrow map over distinct words, the pair histogram is the only
    shuffled state (O(|symbol pairs|)), and the selected merge is a
    1-row broadcast folded back via a delimiter-exact ``replace`` (each
    symbol carries its own '|' wrappers, so leftmost-non-overlapping
    replace IS the greedy BPE merge — no Python in the loop, whole-stage
    codegen end to end). Argmax tie-break (count DESC, pair ASC) makes
    the training trajectory deterministic across engines."""
    w, merge_frames = _bpe_train(spark, sf_dir)
    final_syms = (
        w.select(
            F.explode(F.split(F.expr("substring(rep, 2, length(rep) - 2)"), r"\|\|")).alias(
                "sym_a"
            ),
            "n",
        )
        .groupBy("sym_a")
        .agg(F.sum("n").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "sym_a")
        .limit(5)
        .select(
            F.lit("symbol").alias("kind"),
            F.lit(_BPE_STEPS).alias("step"),
            "sym_a",
            F.lit("").alias("sym_b"),
            "n",
        )
    )
    out = merge_frames[0]
    for fr in merge_frames[1:]:
        out = out.unionAll(fr)
    return out.unionAll(final_syms)


_BPE_APPLY_ORACLE = (
    _BPE_TRAIN_CTES
    + f""",
    seg AS (
      SELECT term,
             len(string_split(substring(rep, 2, length(rep) - 2), '||')) AS n_syms
      FROM w{_BPE_STEPS}
    ),
    tok AS (SELECT source, unnest({_TOKS}) AS term FROM documents)
    SELECT source,
           COUNT(*) AS n_words,
           CAST(SUM(length(t.term)) AS BIGINT) AS n_chars,
           -- LEFT JOIN + char fallback: tokens the histogram excluded
           -- (delimiter collisions) count at character granularity — the
           -- BPE OOV convention — instead of vanishing from the stats
           CAST(SUM(coalesce(n_syms, length(t.term))) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(length(t.term)) AS DOUBLE)
                 / SUM(coalesce(n_syms, length(t.term))), 6) AS chars_per_token
    FROM tok t LEFT JOIN seg USING (term)
    GROUP BY source
    """
)


@query("vocab_bpe_apply_compression", oracle=_BPE_APPLY_ORACLE)
def vocab_bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the tokenizer loop: segment the whole corpus with
    the merges learned by ``vocab_bpe_train_merges`` and report per-source
    token-compression stats (words, chars, post-BPE tokens,
    chars-per-token — the fertility metric tokenizer evaluations quote).

    Scale shape: training runs on the vocabulary (see ``_bpe_train``);
    application is ONE equi-join of the exploded corpus against the
    |V|-sized segmentation table — at 100 TB the segmentation side is
    broadcast (it is the trained tokenizer, megabytes), so tokenization
    is a map-side join followed by one partial-agg shuffle on source,
    exactly how a distributed tokenize-and-count job is laid out."""
    w, _ = _bpe_train(spark, sf_dir, persist_histogram=True)
    seg = w.select(
        "term",
        F.size(F.split(F.expr("substring(rep, 2, length(rep) - 2)"), r"\|\|")).alias(
            "n_syms"
        ),
    )
    tok = read_table(spark, sf_dir, "documents").select(
        "source", F.explode(text.tokens("text")).alias("term")
    )
    # left join + char fallback: tokens the histogram excluded (delimiter
    # collisions) count at character granularity — the BPE OOV convention —
    # instead of vanishing from the per-source stats (review, r10)
    syms_or_chars = F.coalesce("n_syms", F.length("term"))
    return (
        tok.join(seg, "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("term")).cast("long").alias("n_chars"),
            F.sum(syms_or_chars).cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum(F.length("term")).cast("double") / F.sum(syms_or_chars), 6
            ).alias("chars_per_token"),
        )
    )
