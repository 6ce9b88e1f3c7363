"""Extension ops that can't be SQL-oracled (xxhash64-based signatures) are
verified against their exact counterparts instead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from ibc_spark.io_.sources import read_table

    return read_table(spark, SF_ORACLE, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from ibc_spark.io_.sources import read_table

    return read_table(spark, SF_ORACLE, "embeddings").cache()


def test_minhash_lsh_finds_exact_near_dups(spark, docs):
    """Every exact-Jaccard pair ≥0.8 must be recalled by MinHash+LSH at
    threshold 0.5 (banding probability of missing a 0.8-sim pair with
    32/8 bands is ~(1-0.8^4)^8 ≈ 0.8%% per pair; the planted dups are >0.9)."""
    from ibc_spark.ext.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", block_col="source", threshold=0.8
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", k=32, bands=8, threshold=0.5
        ).collect()
    }
    assert exact, "testdata should contain planted near-dup pairs"
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_ngram_jaccard_prefix_arm_equals_bruteforce(spark, docs):
    """The high-threshold PREFIX-FILTERED arm (hash-order prefix + length
    filter + array_intersect verify) must return EXACTLY the naive blocked
    all-pairs answer — prefix filtering is a candidate pruning, never a
    semantics change. Checked at 0.8 (prefix arm) for pairs AND values."""
    from ibc_spark.ext.dedup import jaccard, ngram_jaccard_pairs, shingles
    from ibc_spark.ext.text import tokens

    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", block_col="source", threshold=0.8
        ).collect()
    }
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("block"),
        shingles(tokens(F.col("text")), 3).alias("sh"),
    )
    a = base.select(F.col("id").alias("id_a"), "block", F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("id_b"), "block", F.col("sh").alias("sh_b"))
    naive = {
        (r["id_a"], r["id_b"]): round(r["j"], 9)
        for r in a.join(b, on="block")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
        .where(F.col("j") >= 0.8)
        .collect()
    }
    assert naive, "fixture should contain planted near-dup pairs"
    assert got == naive


def test_minhash_pairs_are_verified(spark, docs):
    """LSH candidates are exact-verified: no pair below the threshold."""
    from ibc_spark.ext.dedup import minhash_lsh_pairs

    rows = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.5
    ).collect()
    assert all(r["jaccard"] >= 0.5 for r in rows)


def test_minhash_portable_face_same_guarantees(spark, docs):
    """The md5-portable banding face (dedup_minhash_lsh_portable's
    machinery) keeps the production entry's statistical guarantees: every
    exact pair ≥0.8 recalled, every emitted pair exact-verified ≥0.5, and
    its Jaccard VALUES agree with the xxhash64 sibling on shared pairs
    (verification is over shingle-hash sets; both hash families are
    collision-free on this corpus)."""
    from ibc_spark.ext.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", block_col="source", threshold=0.8
        ).collect()
    }
    port = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", k=32, bands=8,
            threshold=0.5, portable=True,
        ).collect()
    }
    assert exact and not (exact - set(port)), f"portable LSH missed: {exact - set(port)}"
    assert all(j >= 0.5 for j in port.values())
    prod = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", k=32, bands=8, threshold=0.5
        ).collect()
    }
    shared = set(port) & set(prod)
    assert shared and all(port[p] == prod[p] for p in shared)


def test_cross_corpus_neardup_direction(spark, docs):
    """Cross pairs run new x seen only: every emitted pair has a new-side
    id and a seen-side id, never seen x seen (the archive is not re-paired
    with itself), and pairs meet the exact threshold."""
    from pyspark.sql import functions as F

    from ibc_spark.ext.dedup import cross_corpus_neardup_pairs

    new = docs.where(F.col("doc_id") % 3 == 0)
    seen = docs.where(F.col("doc_id") % 3 != 0)
    rows = cross_corpus_neardup_pairs(
        new, seen, id_col="doc_id", text_col="text", threshold=0.8
    ).collect()
    assert rows, "testdata should contain cross-split near-dups"
    for r in rows:
        assert r["new_id"] % 3 == 0 and r["seen_id"] % 3 != 0
        assert r["jaccard"] >= 0.8


def test_simhash_deterministic_and_discriminative(spark, docs):
    from ibc_spark.ext.dedup import simhash_groups

    g1 = simhash_groups(docs, id_col="doc_id", text_col="text").collect()
    g2 = simhash_groups(docs, id_col="doc_id", text_col="text").collect()
    assert sorted(r["simhash"] for r in g1) == sorted(r["simhash"] for r in g2)
    # signatures spread: no giant accidental collision group
    assert max(r["group_size"] for r in g1) <= 25


def test_lsh_topk_recall_vs_bruteforce(spark, emb):
    """Multi-probe LSH top-5 must recall a solid fraction of the exact
    top-5 (random 64-dim data is the adversarial case for LSH; ≥30%% overall
    and rank-1 hit for most queries is the plumbing-correctness bar)."""
    from ibc_spark.ext.similarity import topk_bruteforce, topk_lsh

    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    approx = topk_lsh(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_lsh_portable_signature_recall(spark, emb):
    """The md5-planes strict-fold signature variant (the oracled face)
    must deliver the same recall bar as the PRNG variant — different
    random planes, same statistics."""
    from ibc_spark.ext.similarity import topk_bruteforce, topk_lsh

    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    approx = topk_lsh(
        emb, q, id_col="vec_id", vec_col="embedding", k=5, signature="md5"
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.3, "portable-LSH recall collapsed"


def test_ivf_portable_recall(spark, emb):
    """The fold-exact-quantizer IVF variant (the oracled face) must hold
    the same recall bar as the numpy-trained variant at nprobe=6/16."""
    from ibc_spark.ext.similarity import topk_bruteforce
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_topk_ivf_portable"](spark, SF_ORACLE).collect()
    }
    assert len(e & a) / len(e) >= 0.3, "portable-IVF recall collapsed"


def test_ivf_topk_recall_vs_bruteforce(spark, emb):
    """IVF with nprobe=6 of 16 cells must recall a solid fraction of the
    exact top-5, and nprobe=16 (probe every cell) must equal brute force —
    the full-probe case degenerates to an exact search by construction."""
    from ibc_spark.ext.similarity import topk_bruteforce, topk_ivf

    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, id_col="vec_id", vec_col="embedding", k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = topk_ivf(
        emb, q, id_col="vec_id", vec_col="embedding", k=5, n_centroids=16, nprobe=6
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.3, "IVF recall collapsed"

    full = topk_ivf(
        emb, q, id_col="vec_id", vec_col="embedding", k=5, n_centroids=16, nprobe=16
    )
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e, "full-probe IVF must match brute force"


def test_multimodal_decode_stub_is_loud():
    """Non-closable entropy-coded codecs (WebP's VP8 here) stay a loud
    seam; formats outside every magic-byte route too. JPEG graduated
    from this seam in r14 — a malformed JPEG now errors LOUDLY through
    the real decoder instead of hitting the stub."""
    from ibc_spark.ext.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16)
    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)  # truncated JPEG


def test_png_roundtrip_all_filters_and_color_types():
    """encode_png('mixed') cycles the four non-trivial scanline filters
    (filter 0 is the 'none' mode); decode must be the exact identity for
    both modes. Grayscale and RGBA PNGs built by hand decode to
    replicated-channel / alpha-dropped RGB, and unknown modes raise."""
    import struct
    import zlib

    import numpy as np

    from ibc_spark.ext.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_image,
        encode_png,
    )

    h, w = 7, 5
    a = np.fromfunction(
        lambda y, x, c: (y * 37 + x * 11 + c * 97) % 256, (h, w, 3)
    ).astype(np.uint8)
    a[2:4, 1:4] = 128  # flat patch exercises zero-delta filters
    for mode in ("none", "mixed"):
        assert (decode_image(encode_png(a, filter_mode=mode)) == a).all()
    with pytest.raises(ValueError):
        encode_png(a, filter_mode="mix")

    def raw_idat(rows):
        out = bytearray()
        for r in rows:
            out.append(0)
            out += bytes(r)
        return zlib.compress(bytes(out))

    g = (np.arange(h * w, dtype=np.int64).reshape(h, w) * 31 % 256).astype(np.uint8)
    gray = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", raw_idat(g))
        + _png_chunk(b"IEND", b"")
    )
    gb = decode_image(gray)
    assert gb.shape == (h, w, 3) and all((gb[:, :, c] == g).all() for c in range(3))

    rgba = np.dstack([a, np.full((h, w), 200, np.uint8)])
    rgba_png = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", raw_idat(rgba.reshape(h, -1)))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_image(rgba_png) == a).all()


def test_png_unfilter_matches_hand_computed_spec_vectors():
    """Decoder-only spec check (independent of our encoder, so a shared
    misreading of the filter spec cannot roundtrip-hide): a 2x2 RGB image
    whose Sub and Paeth filtered scanlines were computed BY HAND from the
    PNG spec must decode to the original pixels."""
    import struct
    import zlib

    import numpy as np

    from ibc_spark.ext.multimodal import PNG_SIG, _png_chunk, decode_image

    # pixels: row0 = (10,20,30),(40,50,60); row1 = (15,25,35),(70,80,90)
    # row0 Sub:   [10,20,30, 30,30,30]
    # row1 Paeth: first px pred = prior (b wins tie) -> [5,5,5];
    #             second px pred = b = (40,50,60) -> [30,30,30]
    stream = (
        b"\x01" + bytes([10, 20, 30, 30, 30, 30]) + b"\x04" + bytes([5, 5, 5, 30, 30, 30])
    )
    png = (
        PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(stream))
        + _png_chunk(b"IEND", b"")
    )
    want = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[15, 25, 35], [70, 80, 90]]], dtype=np.uint8
    )
    assert (decode_image(png) == want).all()


def test_multimodal_ppm_round_trip_and_resize():
    """REAL codec path: PPM(P6) encode->decode is the identity, a BMP
    synthesized by hand (bottom-up, padded rows, BGR) decodes to the same
    pixels, and nearest-neighbor resize picks exactly the expected
    indices."""
    import struct

    import numpy as np

    from ibc_spark.ext.multimodal import (
        decode_image,
        encode_ppm,
        resize_nearest,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (decode_image(encode_ppm(img)) == img).all()

    # comment + multi-whitespace header variant
    ppm = b"P6 # comment\n" + b"7 5\n255\n" + img.tobytes()
    assert (decode_image(ppm) == img).all()

    # hand-rolled 24-bit BMP of the same pixels
    h, w = img.shape[:2]
    stride = ((w * 3 + 3) // 4) * 4
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].tobytes()  # BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pixel_data = b"".join(rows)
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    )
    assert (decode_image(header + pixel_data) == img).all()

    small = resize_nearest(img, width=3, height=2)
    rows_idx = (np.arange(2) * h) // 2
    cols_idx = (np.arange(3) * w) // 3
    assert (small == img[rows_idx][:, cols_idx]).all()


def test_multimodal_image_channel_stats_real_decode(spark):
    """End-to-end Spark pipeline over REAL encoded images: per-channel
    means match numpy exactly; an undecodable payload becomes a NULL row
    (errors-as-data), not a failed task."""
    import numpy as np

    from ibc_spark.ext.multimodal import encode_ppm, image_channel_stats

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(4 + i, 6, 3), dtype=np.uint8) for i in range(3)}
    rows = [(i, bytearray(encode_ppm(img))) for i, img in imgs.items()]
    rows.append((99, bytearray(b"\x89PNG not decodable")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in image_channel_stats(df).collect()}
    assert got[99]["width"] is None and got[99]["mean_r"] is None
    for i, img in imgs.items():
        m = img.reshape(-1, 3).mean(axis=0)
        assert got[i]["width"] == 6 and got[i]["height"] == 4 + i
        assert abs(got[i]["mean_r"] - m[0]) < 1e-9
        assert abs(got[i]["mean_b"] - m[2]) < 1e-9


def test_multimodal_batch_shapes(spark, docs):
    """The pandas stage must preserve row count and produce fixed-dim
    feature vectors (the contract a real decoder must satisfy)."""
    from ibc_spark.ext.multimodal import attach_binary, extract_features

    out = extract_features(attach_binary(docs))
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(len(r["fake_embedding"]) == 8 for r in rows)
    assert all(r["byte_len"] > 0 for r in rows)


def test_multimodal_resize_and_frames(spark):
    from ibc_spark.ext.multimodal import attach_binary, resize_images, sample_frames
    from ibc_spark.io_.sources import read_table
    from .conftest import SF_SMOKE

    media = attach_binary(read_table(spark, SF_SMOKE, "documents").limit(20))
    rs = resize_images(media, width=4, height=4).collect()
    assert len(rs) == 20
    assert all(len(bytes(r["pixels"])) == 16 for r in rs)

    fr = sample_frames(media, n_frames=3, frame_size=8)
    rows = fr.collect()
    assert len(rows) == 60  # 1:N fan-out
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for frames in by_doc.values():
        offs = [r["frame_offset"] for r in sorted(frames, key=lambda r: r["frame_idx"])]
        assert offs == sorted(offs)  # evenly spaced, nondecreasing
        assert all(len(bytes(r["frame_bytes"])) <= 8 for r in frames)


def test_hash_split_deterministic_and_complete(spark, docs):
    from ibc_spark.ext.datapipe import hash_split

    a = hash_split(docs, "doc_id")
    b = hash_split(docs.repartition(7), "doc_id")
    # every row gets a split; assignment is stable under repartition
    assert a.where(F.col("split").isNull()).count() == 0
    mism = (
        a.select("doc_id", "split")
        .join(b.select("doc_id", F.col("split").alias("s2")), "doc_id")
        .where(F.col("split") != F.col("s2"))
    )
    assert mism.count() == 0
    # rough proportions at the default 90/5/5
    frac = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(frac.values())
    assert frac["train"] / total > 0.8 and frac["test"] / total < 0.15

    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", (("train", 50), ("val", 10)))


def test_contamination_tags_planted_overlap(spark):
    """A corpus doc sharing an 8-gram with the test set is tagged with the
    right hit count; clean docs get n_hits=0, contaminated=False."""
    from ibc_spark.ext.dedup import contamination_tags

    bench = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {bench} trailing text here"),  # contains the 8-gram
            (2, "totally unrelated content with no overlap at all whatsoever"),
            (3, f"{bench}"),  # the 8-gram alone
        ],
        "doc_id long, text string",
    )
    testset = spark.createDataFrame([(100, f"prefix {bench} suffix")], "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in contamination_tags(
            corpus, testset, id_col="doc_id", text_col="text", n=8
        ).collect()
    }
    assert out[1][1] is True and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (1, True)


def test_image_ahash_groups_planted_duplicates(spark):
    """Every planted duplicate embedding renders to an identical image and
    must therefore share its average-hash group with its source vector;
    hashes stay in the 16-bit range and groups partition the id space."""
    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry import QUERIES

    rows = QUERIES["multimodal_image_dedup_ahash"](spark, SF_ORACLE).collect()
    n = read_table(spark, SF_ORACLE, "embeddings").count()
    n_pairs = len([i for i in range(0, n, 10) if i + 1 < n])
    # the planted fixture REPLACES vec i+1's embedding with vec i's for
    # every i % 10 == 0, so groups partition the same n ids and each of
    # the planted identical-image pairs collapses its two members into
    # one hash group
    assert sum(r.n_images for r in rows) == n
    assert all(0 <= r.ahash < (1 << 16) for r in rows)
    assert len(rows) <= n - n_pairs
    assert sum(1 for r in rows if r.n_images > 1) >= 1


def test_bloom_contamination_no_false_negatives(spark):
    """The Bloom probe must flag a SUPERSET of the exact overlap check
    (false positives allowed and bounded elsewhere; a false negative would
    leak benchmark text into training) and agree on shingle counts."""
    from ibc_spark.registry import QUERIES

    exact = {
        r["doc_id"]: r
        for r in QUERIES["decontaminate_against_holdout"](spark, SF_ORACLE).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in QUERIES["decontaminate_bloom"](spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(bloom)
    n_fp = 0
    for did, e in exact.items():
        b = bloom[did]
        assert b["n_flagged"] >= e["n_hits"], did
        if e["contaminated"]:
            assert b["maybe_contaminated"], did
        elif b["maybe_contaminated"]:
            n_fp += 1
    # with ~500 distinct holdout shingles in a 65536-bit filter (k=4) the
    # per-shingle FP rate is ~(1-e^(-4*500/65536))^4 ~ 8e-7 — a handful of
    # corpus docs flagging spuriously would indicate a broken hash
    assert n_fp <= max(2, len(exact) // 100), n_fp


def test_bloom_contamination_planted_overlap(spark):
    """Planted true positives (the corpus-level entry runs on a corpus with
    ZERO real overlap, so the superset check there is vacuous for hits): a
    doc containing the benchmark 8-gram must be flagged, the clean doc must
    not (FP chance at this filter load is ~1e-6)."""
    from ibc_spark.ext.dedup import bloom_contamination

    bench = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"intro words {bench} trailing text here"),
            (2, "totally unrelated content with no overlap at all whatsoever"),
            (3, f"{bench}"),
        ],
        "doc_id long, text string",
    )
    testset = spark.createDataFrame(
        [(100, f"prefix {bench} suffix")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in bloom_contamination(
            corpus, testset, id_col="doc_id", text_col="text", n=8
        ).collect()
    }
    assert out[1]["maybe_contaminated"] and out[1]["n_flagged"] >= 1
    assert out[3]["maybe_contaminated"] and out[3]["n_flagged"] == 1
    assert not out[2]["maybe_contaminated"] and out[2]["n_flagged"] == 0


def test_streaming_bloom_gate_equals_batch(spark):
    """The stream-static ingest gate (executor-local bitset probe, zero
    stream state) must reproduce the batch Bloom entry bit-for-bit after
    the availableNow backlog run — including the hashlib-vs-Spark md5
    agreement the probe kernel depends on."""
    from ibc_spark.registry import QUERIES

    batch = {
        tuple(r) for r in QUERIES["decontaminate_bloom"](spark, SF_ORACLE).collect()
    }
    stream = {
        tuple(r)
        for r in QUERIES["streaming_decontaminate_bloom"](spark, SF_ORACLE).collect()
    }
    assert stream == batch


def test_bloom_filter_is_mergeable(spark):
    """bit_or-merging two half-benchmark filters equals the filter built
    over the union — the store-per-benchmark / merge-on-read property."""
    from ibc_spark.ext.dedup import bloom_build
    from ibc_spark.io_.sources import read_table

    hold = read_table(spark, SF_ORACLE, "documents").where(
        F.col("doc_id") % 97 == 0
    )
    a = bloom_build(hold.where(F.col("doc_id") % 2 == 0), text_col="text")
    b = bloom_build(hold.where(F.col("doc_id") % 2 == 1), text_col="text")
    merged = (
        a.unionByName(b)
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    whole = bloom_build(hold, text_col="text")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hash_bucket_extreme_keys_match_duckdb(spark):
    """Negative keys and keys above 2^32 must still land in [0, 100) and be
    bit-identical to the SQL mirror of the hash (DuckDB as the reference
    engine) — the pre-fix formula overflowed int64 for keys > ~3.49e9 and
    went negative for negative keys."""
    import duckdb

    from ibc_spark.ext.datapipe import hash_bucket

    keys = [-(2**62), -3, -1, 0, 1, 2**31 - 1, 2**31, 2**32 + 7, 2**61 + 5]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["b"]
        for r in df.select("k", hash_bucket("k", 100).alias("b")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        [(want,)] = con.sql(
            f"SELECT ((({k}::BIGINT % 2147483648) + 2147483648) % 2147483648"
            " * 2654435761) % 4294967296 % 100"
        ).fetchall()
        assert got[k] == want, f"key {k}: spark={got[k]} duck={want}"
        assert 0 <= got[k] < 100
    con.close()


def test_stratified_sample_extreme_keys_respect_rate(spark):
    """Negative keys must be subject to the configured rate, not kept
    unconditionally (the pre-fix % produced negative buckets, always < rate)."""
    from ibc_spark.ext.datapipe import stratified_sample

    df = spark.createDataFrame(
        [(k, "en") for k in range(-2000, 0)], "doc_id long, lang string"
    )
    kept = stratified_sample(df, "doc_id", "lang", {"en": 10}).count()
    assert kept < 400, f"negative keys ignored the 10% rate: kept {kept}/2000"


def test_ivf_recall_on_sorted_corpus(spark, emb):
    """The quantizer's training sample must be layout-independent: on a
    corpus SORTED by content (first embedding component), a head-of-scan
    'sample' trains centroids on one corner of the space and recall
    collapses for the rest. Hash-ordered sampling must not care."""
    from ibc_spark.ext.similarity import topk_bruteforce, topk_ivf

    sorted_corpus = emb.orderBy(F.col("embedding")[0]).coalesce(4).cache()
    q = emb.where(F.col("vec_id") % 97 == 0)  # queries spread over the space
    exact = topk_bruteforce(sorted_corpus, q, id_col="vec_id", vec_col="embedding", k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx = topk_ivf(
        sorted_corpus,
        q,
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_centroids=16,
        nprobe=6,
        sample_rows=512,
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    sorted_corpus.unpersist()
    assert recall >= 0.3, f"IVF recall collapsed on sorted corpus: {recall}"


def test_chunk_token_windows_edges(spark):
    """Empty doc -> no chunks; short doc -> one short chunk; overlap and the
    trailing window cover every token."""
    from ibc_spark.ext.datapipe import chunk_token_windows
    from ibc_spark.ext.text import tokens

    df = spark.createDataFrame(
        [
            (1, ""),  # empty -> nothing (sequence(0,-1) trap)
            (2, "a b c"),  # shorter than chunk_size -> one window
            (3, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # 10 tokens, size 4 stride 3
        ],
        "doc_id long, text string",
    )
    rows = chunk_token_windows(
        df, id_col="doc_id", tokens_col=tokens("text"), chunk_size=4, stride=3
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_tokens"] == ["a", "b", "c"]
    chunks = sorted(by_doc[3], key=lambda r: r["chunk_idx"])
    # ceil((10-4)/3)+1 = 3 windows at offsets 0,3,6; the last covers t6..t9
    assert [c["chunk_tokens"][0] for c in chunks] == ["t0", "t3", "t6"]
    assert chunks[-1]["chunk_tokens"] == ["t6", "t7", "t8", "t9"]
    covered = {t for c in chunks for t in c["chunk_tokens"]}
    assert covered == {f"t{i}" for i in range(10)}

    with pytest.raises(ValueError):
        chunk_token_windows(df, id_col="doc_id", tokens_col=tokens("text"), chunk_size=0)

    # stride > chunk_size (gappy sampling) must not emit a phantom window
    # starting past the document's end
    sampled = chunk_token_windows(
        df.where(df.doc_id == 3),
        id_col="doc_id",
        tokens_col=tokens("text"),
        chunk_size=2,
        stride=5,
    ).collect()
    assert [r["chunk_tokens"] for r in sorted(sampled, key=lambda r: r["chunk_idx"])] == [
        ["t0", "t1"],
        ["t5", "t6"],
    ]
    assert all(r["n_chunk_tokens"] > 0 for r in sampled)


def test_contamination_ignores_sub_ngram_docs(spark):
    """Docs shorter than n tokens produce no n-grams on either side: a
    5-token corpus doc identical to a 5-token benchmark doc is NOT an
    8-gram hit, and empty docs never match each other."""
    from ibc_spark.ext.dedup import contamination_tags

    short = "one two three four five"
    corpus = spark.createDataFrame(
        [(1, short), (2, "")], "doc_id long, text string"
    )
    testset = spark.createDataFrame(
        [(100, short), (101, "   ")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["contaminated"]
        for r in contamination_tags(
            corpus, testset, id_col="doc_id", text_col="text", n=8
        ).collect()
    }
    assert out == {1: False, 2: False}


def test_mix_epochs_counts(spark):
    from ibc_spark.ext.datapipe import mix_epochs

    df = spark.createDataFrame(
        [(1, "books"), (2, "web"), (3, "junk")], "doc_id long, source string"
    )
    rows = mix_epochs(
        df, stratum="source", epochs={"books": 3, "junk": 0}, default_epochs=1
    ).collect()
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert sorted(per_doc[1]) == [0, 1, 2]  # 3 epochs
    assert per_doc[2] == [0]  # default 1
    assert 3 not in per_doc  # 0 epochs -> dropped


def test_pack_by_token_budget_bound(spark, docs):
    from ibc_spark.ext.datapipe import pack_by_token_budget
    from ibc_spark.ext.text import token_count

    budget = 256
    d = docs.select("source", "doc_id", token_count("text").alias("n_tokens"))
    packed = pack_by_token_budget(d, "source", "doc_id", F.col("n_tokens"), budget)
    stats = (
        packed.groupBy("source", "bin_id")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    # exclusive-prefix binning: a bin never exceeds budget + its largest doc
    assert stats and all(r["tot"] <= budget + r["mx"] for r in stats)
    # bin ids are dense from 0 per source
    mins = packed.groupBy("source").agg(F.min("bin_id").alias("m")).collect()
    assert all(r["m"] == 0 for r in mins)


def test_embedding_lsh_recall_equals_allpairs(spark, emb):
    """Banded hyperplane LSH + exact verify at confidence threshold 0.9 must
    equal the all-pairs baseline on the planted-dup augmented table: every
    planted pair sits at cosine ≥0.98, where the per-pair band-miss
    probability is ≤4e-17, and the candidate stage must genuinely prune
    (strictly fewer scored pairs than all-pairs would)."""
    from ibc_spark.ext.dedup import embedding_lsh_pairs, embedding_neardup_pairs
    from ibc_spark.registry_ext import _augmented_embeddings

    from tests.conftest import SF_ORACLE

    aug = _augmented_embeddings(spark, SF_ORACLE).cache()
    n = aug.count()
    exact = embedding_neardup_pairs(
        aug.withColumn("one_block", F.lit(1)),
        id_col="vec_id",
        vec_col="embedding",
        block_col="one_block",
        threshold=0.9,
    )
    approx = embedding_lsh_pairs(aug, id_col="vec_id", vec_col="embedding", threshold=0.9)
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    a = {(r["id_a"], r["id_b"]) for r in approx.collect()}
    assert len(e) >= 40, f"expected ≥40 planted pairs, got {len(e)}"
    assert a == e, f"LSH missed {e - a} / invented {a - e}"

    # candidate pruning: the banded join must score far fewer than n·(n-1)/2
    from ibc_spark.ext.similarity import lsh_band_signatures

    banded = aug.select(
        "vec_id",
        F.posexplode(lsh_band_signatures(F.col("embedding"))).alias("bi", "bs"),
    )
    x = banded.select(F.col("vec_id").alias("id_a"), "bi", "bs")
    y = banded.select(F.col("vec_id").alias("id_b"), "bi", "bs")
    n_cands = (
        x.join(y, on=["bi", "bs"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert n_cands < 0.5 * n * (n - 1) / 2, f"LSH pruned nothing: {n_cands} candidates"
    aug.unpersist()


def test_passage_dedup_planted_span(spark):
    """A 10-token span planted inside two otherwise-different documents must
    be reported at the right offsets; sub-window docs contribute nothing."""
    from ibc_spark.ext.dedup import passage_exact_dups

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "one two three four five " + span + " tail words here"),
            (2, span + " completely different trailing content follows now ok"),
            (3, "short doc"),  # < window → no passages
            (4, "nothing in common with anything else at all in this text"),
        ],
        "doc_id long, text string",
    )
    out = passage_exact_dups(df, id_col="doc_id", text_col="text", window=10, stride=5).collect()
    hits = {(r["doc_id"], r["start_tok"]) for r in out if r["passage"] == span}
    # doc 1: span starts at token 6 (stride-5 grid: 1,6,11,...); doc 2: token 1
    assert hits == {(1, 6), (2, 1)}, sorted(out)
    assert all(r["n_copies"] == 2 and r["n_docs"] == 2 for r in out if r["passage"] == span)
    canon = [r for r in out if r["passage"] == span and r["is_canonical"]]
    assert [(r["doc_id"], r["start_tok"]) for r in canon] == [(1, 6)]
    assert not any(r["doc_id"] == 3 for r in out)


def test_quota_per_group_equals_naive_rank(spark):
    """The two-phase skew-safe quota plan must return EXACTLY the naive
    row_number()-over-everything answer, including on a skewed frame where
    one group dwarfs the quota (the case the pre-filter exists for)."""
    from pyspark.sql import Window

    from ibc_spark.ext.datapipe import hash_u32, quota_per_group

    rows = [(i, "big") for i in range(5000)] + [(i + 5000, "small") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    got = quota_per_group(df, group_col="source", id_col="doc_id", k=10).toPandas()

    w = Window.partitionBy("source").orderBy(
        hash_u32(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    naive = (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= 10)
        .select("source", "doc_id", "sample_rank")
        .toPandas()
    )
    key = ["source", "doc_id", "sample_rank"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, naive[key].values.tolist())
    )
    # the small group keeps all 7 rows; the big group exactly k
    counts = got.groupby("source").size().to_dict()
    assert counts == {"big": 10, "small": 7}


def test_quota_per_group_shortfall_fallback_is_exact(spark):
    """safety=1 makes the pre-filter cutoff exactly k/n of the hash space,
    so ~half of all groups lose at least one of their true top-k to the
    filter — the shortfall guard must detect those groups and re-draw them
    unfiltered, keeping the result EXACTLY the naive rank regardless."""
    from pyspark.sql import Window

    from ibc_spark.ext.datapipe import hash_u32, quota_per_group

    rows = [(g * 10000 + i, f"g{g}") for g in range(20) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    got = quota_per_group(
        df, group_col="source", id_col="doc_id", k=5, safety=1
    ).toPandas()

    w = Window.partitionBy("source").orderBy(
        hash_u32(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    naive = (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= 5)
        .select("source", "doc_id", "sample_rank")
        .toPandas()
    )
    key = ["source", "doc_id", "sample_rank"]
    assert sorted(map(tuple, got[key].values.tolist())) == sorted(
        map(tuple, naive[key].values.tolist())
    )


def test_persist_registry_tracks_and_releases(spark, docs):
    """Operator-persisted frames (hashed shingles, postings, band sigs)
    register with ext.persistreg; release_persisted unpersists them all so
    long sessions (and cold-timing benches) don't accumulate cache entries."""
    from ibc_spark.ext import dedup
    from ibc_spark.ext.persistreg import _TRACKED, release_persisted

    release_persisted()  # clean slate
    pairs = dedup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.5
    )
    pairs.count()  # materialize → the shingle frame is now cached
    assert _TRACKED, "minhash pipeline must register its persisted frame"
    cached = [df for df in _TRACKED if df.is_cached]
    assert cached
    n = release_persisted()
    assert n >= 1 and not _TRACKED
    assert all(not df.is_cached for df in cached)


def test_release_checkpoints_frees_localcheckpoint_blocks(spark):
    """r12 (the sf3 sweep OOM): localCheckpoint blocks belong to the
    internal RDD, invisible to DataFrame.unpersist / release_persisted —
    release_checkpoints sweeps the context's persistent RDDs so
    back-to-back suffix-array builds in one harness session cannot
    accumulate heap. Session-owner-only: a released checkpoint cannot
    recompute."""
    from ibc_spark.ext.persistreg import release_checkpoints, release_persisted

    release_persisted()
    release_checkpoints(spark)

    def n_persistent() -> int:
        return len(list(spark.sparkContext._jsc.getPersistentRDDs().values()))

    base = n_persistent()
    ck = spark.range(1000).localCheckpoint()
    assert ck.count() == 1000
    assert n_persistent() > base, "localCheckpoint must register a persistent RDD"
    assert release_checkpoints(spark) >= 1
    assert n_persistent() == 0


def test_assign_shards_balanced_and_stable(spark):
    from ibc_spark.ext.datapipe import assign_shards
    from ibc_spark.io_.sources import read_table

    from .conftest import SF_SMOKE

    d = read_table(spark, SF_SMOKE, "documents")
    sharded = assign_shards(d, key_col="doc_id", n_shards=16)
    stats = sharded.groupBy("shard").count().toPandas()
    assert set(stats["shard"]) <= set(range(16))
    # multiplicative hash spreads sequential ids: no shard takes >3x the mean
    assert stats["count"].max() <= 3 * stats["count"].mean()
    # deterministic across invocations
    again = assign_shards(d, key_col="doc_id", n_shards=16)
    assert (
        sharded.select("doc_id", "shard").exceptAll(again.select("doc_id", "shard")).count() == 0
    )


def test_text_normalize_edges(spark):
    from ibc_spark.ext.text import normalize

    df = spark.createDataFrame(
        [("  Hello,   WORLD!! ",), ("çé-ü",), ("",), ("a  b\tc\nd",)], "t: string"
    )
    got = [r[0] for r in df.select(normalize("t")).collect()]
    assert got[0] == "hello world"
    assert got[1] == ""  # non-ascii letters are stripped, not kept
    assert got[2] == ""
    assert got[3] == "a b c d"


def _planted_clusters(spark):
    """Cluster frame over the SAME planted-LSH candidate path the corpus
    entries use (threshold 0.9; pairs planted by the successor-embedding
    fixture — see registry_ext._PLANT_SQL)."""
    from ibc_spark.ext.graph import dedup_clusters
    from ibc_spark.registry_ext import _planted_lsh_pairs

    return dedup_clusters(_planted_lsh_pairs(spark, SF_ORACLE)).toPandas()


def test_corpus_dedup_materialize_drops_only_noncanonical(spark, duck):
    from ibc_spark.registry import QUERIES

    kept = QUERIES["corpus_dedup_materialize"](spark, SF_ORACLE)
    clusters = _planted_clusters(spark)
    dropped = set(clusters.loc[~clusters["is_kept"], "member_id"])
    kept_ids = set(kept.toPandas()["doc_id"])
    all_ids = set(range(500))
    # the fixture plants pairs (10k, 10k+1): at least the 10k+1 side drops
    assert dropped, "planted dups must produce a non-empty drop set"
    assert kept_ids == all_ids - dropped


def test_minhash_numpy_kernel_matches_column_form(spark):
    """The Arrow-batched signature kernel must be bit-identical to the
    unrolled Column form (same permutation arithmetic, same NULL story)."""
    from ibc_spark.ext.dedup import (
        _hash_shingles,
        _minhash_row,
        _minhash_rows_np,
        shingles,
    )
    from ibc_spark.ext.text import tokens
    from ibc_spark.io_.sources import read_table

    from .conftest import SF_SMOKE

    d = read_table(spark, SF_SMOKE, "documents").limit(100)
    extra = spark.createDataFrame([(9001, None), (9002, "a b")], "doc_id: long, text: string")
    d = d.select("doc_id", "text").unionByName(extra)
    hashed = d.select(
        "doc_id", _hash_shingles(shingles(tokens(F.col("text")), 3)).alias("hsh")
    )
    both = hashed.select(
        "doc_id",
        _minhash_row(F.col("hsh"), 16).alias("col_sig"),
        _minhash_rows_np(16)(F.col("hsh")).alias("np_sig"),
    ).collect()
    assert len(both) == 102
    for r in both:
        assert r["col_sig"] == r["np_sig"], r["doc_id"]


def test_simhash_numpy_kernel_matches_column_form(spark):
    from ibc_spark.ext.dedup import _simhash_np, simhash
    from ibc_spark.ext.text import tokens
    from ibc_spark.io_.sources import read_table

    from .conftest import SF_SMOKE

    d = read_table(spark, SF_SMOKE, "documents").limit(100)
    extra = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "a b c")], "doc_id: long, text: string"
    )
    d = d.select("doc_id", "text").unionByName(extra)
    hashed = F.transform(tokens(F.col("text")), lambda t: F.xxhash64(t))
    both = d.select(
        "doc_id",
        simhash(tokens(F.col("text")), 16).alias("col_sig"),
        _simhash_np(16)(hashed).alias("np_sig"),
    ).collect()
    assert len(both) == 103
    for r in both:
        assert r["col_sig"] == r["np_sig"], r["doc_id"]


def test_leakage_safe_split_keeps_clusters_together(spark):
    """No near-dup pair may straddle splits, and unclustered docs must get
    the same split a plain hash split would give them."""
    from ibc_spark.ext.datapipe import hash_split
    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry import QUERIES

    split = QUERIES["split_leakage_safe"](spark, SF_ORACLE).toPandas()
    by_doc = dict(zip(split["doc_id"], split["split"]))
    clusters = _planted_clusters(spark)
    for _, row in clusters.iterrows():
        assert by_doc[row["member_id"]] == by_doc[row["kept_id"]], row
    plain = hash_split(
        read_table(spark, SF_ORACLE, "documents"), "doc_id"
    ).select("doc_id", "split").toPandas()
    plain_by_doc = dict(zip(plain["doc_id"], plain["split"]))
    clustered = set(clusters["member_id"])
    for doc, s in by_doc.items():
        if doc not in clustered:
            assert s == plain_by_doc[doc], doc


def test_assign_contiguous_ids_equals_global_rank(spark):
    """The two-phase range-partitioned rank must equal the naive global
    row_number for every partition count, including partitions the range
    sampler leaves empty (more partitions than rows in some ranges)."""
    from pyspark.sql import Window

    from ibc_spark.ext.datapipe import assign_contiguous_ids

    rows = [(i, (i * 37) % 11) for i in range(500)]  # heavy key ties
    df = spark.createDataFrame(rows, "doc_id: long, k: long")
    naive = {
        r["doc_id"]: r["rk"]
        for r in df.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("k"), F.col("doc_id")))
            .cast("long")
            .alias("rk"),
        ).collect()
    }
    for n_parts in (1, 7, 64):
        got = {
            r["doc_id"]: r["new_id"]
            for r in assign_contiguous_ids(
                df, order_by=["k", "doc_id"], partitions=n_parts
            ).collect()
        }
        assert got == naive, f"partitions={n_parts}"


def test_compression_ratio_discriminates_and_is_deterministic(spark):
    """Repetitive text must compress far below high-entropy text, and the
    ratio must be identical across runs (zlib level pinned)."""
    import random

    from ibc_spark.registry import QUERIES

    rng = random.Random(7)
    noisy = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz 0123456789") for _ in range(2000))
    rows = [(0, "spam " * 400, "en", "s", 2000), (1, noisy, "en", "s", 2000)]
    df = spark.createDataFrame(
        rows, "doc_id: long, text: string, lang: string, source: string, n_chars: long"
    )
    import tempfile, os

    from ibc_spark.ext.text import compression_ratio

    with tempfile.TemporaryDirectory() as tmp:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        docs = spark.read.parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r["doc_id"]: r["r"]
            for r in docs.select("doc_id", compression_ratio("text").alias("r")).collect()
        }
        again = {
            r["doc_id"]: r["r"]
            for r in docs.select("doc_id", compression_ratio("text").alias("r")).collect()
        }
        # the attestation entry's invariants hold on constructed data too
        att = QUERIES["text_compression_ratio"](spark, tmp).collect()[0]
        assert (att["n_docs_scored"], att["n_unscored"]) == (2, 0)
        assert att["range_violations"] == 0 == att["doubling_violations"]
    assert got == again
    assert got[0] < 0.05 < 0.5 < got[1], got


def test_operators_tolerate_empty_input(spark):
    """Degenerate-input robustness: the heavy operators must return EMPTY
    frames (not raise) on an empty corpus — the first-run / fully-filtered
    upstream case every scheduled pipeline eventually hits."""
    from ibc_spark.ext import dedup
    from ibc_spark.ext.datapipe import assign_contiguous_ids, quota_per_group
    from ibc_spark.ext.graph import dedup_clusters
    from ibc_spark.ext.similarity import knn_graph_blocked

    docs = spark.createDataFrame(
        [], "doc_id: long, text: string, source: string, n_chars: long"
    )
    emb = spark.createDataFrame([], "vec_id: long, embedding: array<float>")
    pairs = spark.createDataFrame([], "id_a: long, id_b: long, jaccard: double")

    assert (
        dedup.ngram_jaccard_pairs(
            docs, id_col="doc_id", text_col="text", block_col="source", threshold=0.8
        ).count()
        == 0
    )
    assert (
        dedup.minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", threshold=0.5
        ).count()
        == 0
    )
    assert (
        dedup.embedding_lsh_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.9
        ).count()
        == 0
    )
    assert (
        knn_graph_blocked(emb, id_col="vec_id", vec_col="embedding", k=3).count() == 0
    )
    assert dedup_clusters(pairs).count() == 0
    assert (
        quota_per_group(docs, group_col="source", id_col="doc_id", k=5).count() == 0
    )
    assert (
        assign_contiguous_ids(docs, order_by=["n_chars", "doc_id"]).count() == 0
    )

def test_quota_per_group_zero_survivor_group_not_dropped(spark):
    """A group whose pre-filter keeps ZERO rows is absent from the survivor
    frame entirely — the shortfall guard must still detect it (counts LEFT
    JOIN survivor agg) and re-draw it, not silently drop the group. With
    k=1, safety=1, n=8 the keep probability per row is 1/8, and groups
    17/24/31/33 of this fixture deterministically lose every row to the
    cutoff (asserted below so the test can never go vacuous if the hash
    family changes)."""
    from ibc_spark.ext.datapipe import _KNUTH, _KEY_MOD, _MOD, quota_per_group

    n, k = 8, 1
    rows = [(g * 100 + i, f"g{g}") for g in range(40) for i in range(n)]
    cutoff = (_MOD * k * 1) // n + 1
    zero_surv = [
        g
        for g in range(40)
        if all(
            ((g * 100 + i) % _KEY_MOD * _KNUTH) % _MOD > cutoff for i in range(n)
        )
    ]
    assert zero_surv, "fixture no longer produces a zero-survivor group"

    df = spark.createDataFrame(rows, "doc_id: long, source: string")
    got = quota_per_group(
        df, group_col="source", id_col="doc_id", k=k, safety=1
    ).toPandas()
    counts = got.groupby("source").size().to_dict()
    assert counts == {f"g{g}": k for g in range(40)}, counts

def test_embedding_quantize_error_bound(spark):
    """Symmetric int8 quantization invariants: reconstruction error is
    bounded by scale/254 (half a quantization step), codes stay in
    [-127, 127], and scale is positive."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    df = QUERIES["embedding_quantize_int8"](spark, SF_SMOKE).toPandas()
    assert len(df) > 0
    assert (df["scale"] > 0).all()
    # both scale and max_abs_err are emitted rounded to 6 decimals (driver
    # hash convention): the error may round up by 5e-7 and the scale down
    # by 5e-7 — allow exactly that slack on the scale/254 analytic bound
    assert (df["max_abs_err"] <= (df["scale"] + 5e-7) / 254 + 5e-7 + 1e-9).all()
    for q in df["quantized"].head(50):
        assert all(-127 <= int(v) <= 127 for v in q.split(","))


def test_simhash_groups_stats_only_mode(spark, docs):
    """with_members=False (the bounded-state escape hatch for
    boilerplate-heavy corpora) must return the same groups minus the
    packed members column."""
    from ibc_spark.ext.dedup import simhash_groups

    full = simhash_groups(docs, id_col="doc_id", text_col="text")
    slim = simhash_groups(docs, id_col="doc_id", text_col="text", with_members=False)
    assert slim.columns == ["simhash", "group_size", "kept_id"]
    assert (
        slim.exceptAll(full.select("simhash", "group_size", "kept_id")).count() == 0
    )
    assert slim.count() == full.count()


def test_containment_detects_embedded_subset(spark):
    """A short doc fully embedded in a longer one must score containment
    1.0 (short in long) while the reverse direction scores < 1 — the
    asymmetric shape Jaccard cannot express."""
    from ibc_spark.ext.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa " + "lam mu nu xi omicron pi rho"
    df = spark.createDataFrame(
        [(1, short, "s"), (2, long_, "s"), (3, "totally different words here", "s")],
        ["doc_id", "text", "source"],
    )
    rows = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in ngram_containment_pairs(
            df, id_col="doc_id", text_col="text", block_col="source",
            n=2, threshold=0.1,
        ).collect()
    }
    assert rows[(1, 2)] == 1.0, "embedded doc must be fully contained"
    assert 0 < rows[(2, 1)] < 1.0, "reverse direction is partial"
    assert (3, 1) not in rows and (3, 2) not in rows


def test_containment_matches_bruteforce(spark, docs):
    """The inverted-index count-join containment equals the per-pair
    set-arithmetic bruteforce on real testdata (exactness of the
    low-threshold arm, containment flavor)."""
    from ibc_spark.ext.dedup import ngram_containment_pairs, shingles, tokens

    got = {
        (r["inner_id"], r["outer_id"]): round(r["containment"], 9)
        for r in ngram_containment_pairs(
            docs, id_col="doc_id", text_col="text", block_col="source",
            n=2, threshold=0.15,
        ).collect()
    }
    base = docs.select(
        F.col("doc_id"), F.col("source"),
        shingles(tokens(F.col("text")), 2).alias("sh"),
    )
    a = base.select(
        F.col("doc_id").alias("inner_id"), F.col("source"),
        F.col("sh").alias("sh_a"),
    )
    b = base.select(
        F.col("doc_id").alias("outer_id"), F.col("source"),
        F.col("sh").alias("sh_b"),
    )
    exact = {
        (r["inner_id"], r["outer_id"]): round(r["c"], 9)
        for r in a.join(b, on="source")
        .where(F.col("inner_id") != F.col("outer_id"))
        .select(
            "inner_id", "outer_id",
            (F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
             / F.size("sh_a")).alias("c"),
        )
        .where(F.col("c") >= 0.15)
        .collect()
    }
    assert got == exact


def test_hybrid_rrf_rewards_agreement(spark):
    """A doc ranked in BOTH arms must outscore a doc holding the SAME rank
    in only one arm, and every fused score must equal 1/(60+rl) + 1/(60+rd)."""
    from ibc_spark.registry import QUERIES
    from ibc_spark.registry_ext_ann import _RRF_K

    rows = QUERIES["search_hybrid_rrf"](spark, str(SF_ORACLE)).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        want = 0.0
        if r["rank_lex"] is not None:
            want += 1.0 / (_RRF_K + r["rank_lex"])
        if r["rank_dense"] is not None:
            want += 1.0 / (_RRF_K + r["rank_dense"])
        assert abs(r["rrf"] - want) < 1e-6
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    both = [r for r in rows if r["rank_lex"] is not None and r["rank_dense"] is not None]
    single = [r for r in rows if (r["rank_lex"] is None) != (r["rank_dense"] is None)]
    for b in both:
        for s in single:
            lone = s["rank_lex"] if s["rank_lex"] is not None else s["rank_dense"]
            if min(b["rank_lex"], b["rank_dense"]) >= lone:
                # agreement at no-better single-arm ranks still wins
                assert b["rrf"] > s["rrf"]


def test_duplicate_spans_merge_and_coverage(spark):
    """Planted scenario: two docs share one long passage; the stride-1
    duplicated windows must merge into ONE maximal span per doc covering
    exactly the shared tokens; a unique-text doc emits no spans."""
    from ibc_spark.ext.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(15))  # 15 shared tokens
    a = "ua1 ua2 ua3 " + shared + " ua4 ua5"
    b = "ub1 " + shared + " ub2 ub3 ub4 ub5 ub6 ub7"
    c = " ".join(f"c{i}" for i in range(30))  # unique
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    rows = duplicate_spans(df, id_col="doc_id", text_col="text", window=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    s1, s2 = by_doc[1][0], by_doc[2][0]
    # doc 1: shared tokens at positions 4..18 (1-based); doc 2: 2..16
    assert (s1["span_start"], s1["span_end"], s1["span_tokens"]) == (4, 18, 15)
    assert (s2["span_start"], s2["span_end"], s2["span_tokens"]) == (2, 16, 15)
    # windows per span: 15 - 10 + 1 = 6
    assert s1["n_windows"] == 6 and s2["n_windows"] == 6


def test_random_projection_preserves_distances(spark, emb):
    """JL guarantee at 64→16: squared pairwise distances are preserved in
    expectation — for a deterministic sample of pairs the ratio
    ||f(a)-f(b)||² / ||a-b||² must stay within loose (4×) bounds, and the
    projection must be deterministic across invocations."""
    import numpy as np

    from ibc_spark.ext.similarity import random_projection_portable

    rows = (
        emb.where(F.col("vec_id") < 40)
        .select(
            "vec_id",
            "embedding",
            random_projection_portable(F.col("embedding"), out_dim=16, dim=64).alias("pv"),
        )
        .collect()
    )
    by_id = {r["vec_id"]: (np.array(r["embedding"], float), np.array(r["pv"])) for r in rows}
    ratios = []
    ids = sorted(by_id)
    for a, b in zip(ids[::2], ids[1::2]):
        va, pa = by_id[a]
        vb, pb = by_id[b]
        d2 = float(((va - vb) ** 2).sum())
        if d2 < 1e-12:
            continue
        ratios.append(float(((pa - pb) ** 2).sum()) / d2)
    assert ratios, "need non-identical sample pairs"
    assert 0.25 < float(np.median(ratios)) < 4.0
    for r in ratios:
        assert 0.05 < r < 20.0, f"pathological distortion: {r}"
    again = (
        emb.where(F.col("vec_id") == ids[0])
        .select(random_projection_portable(F.col("embedding"), out_dim=16, dim=64).alias("pv"))
        .collect()[0]["pv"]
    )
    assert list(again) == list(by_id[ids[0]][1])


def test_token_entropy_bounds_and_extremes(spark, tmp_path):
    """Entropy pins: a one-token-repeated doc scores 0; an all-distinct doc
    scores ln(L) with normalized entropy 1; everything in between lands in
    (0, 1) normalized."""
    import math

    from ibc_spark.registry import QUERIES

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam", "en", "s", 29),
            (1, "one two three four five six", "en", "s", 27),
            (2, "aa bb aa bb cc dd", "en", "s", 17),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf = str(tmp_path / "sf")
    import os
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    rows = {r["doc_id"]: r for r in QUERIES["text_token_entropy"](spark, sf).collect()}
    assert rows[0]["entropy"] == 0.0 and rows[0]["entropy_norm"] == 0.0
    assert abs(rows[1]["entropy"] - math.log(6)) < 1e-5
    assert abs(rows[1]["entropy_norm"] - 1.0) < 1e-5
    assert 0.0 < rows[2]["entropy_norm"] < 1.0
    assert rows[2]["n_distinct"] == 4 and rows[2]["n_tokens"] == 6


def test_hard_negatives_band_and_disjoint_from_dups(spark, emb):
    """Every mined hard negative must sit inside the 0.25 <= cos < 0.95
    band (so no near-duplicate 'positive' leaks into the negative set),
    rank within each query must be dense from 1, and results must be
    disjoint from the >= 0.95 near-dup pairs."""
    from ibc_spark.registry import QUERIES

    rows = QUERIES["sample_hard_negatives"](spark, SF_ORACLE).collect()
    assert rows
    by_q = {}
    for r in rows:
        # cos_sim is round(cos, 4): an in-band cos in [0.94995, 0.95)
        # legitimately rounds TO 0.95, so the displayed bound is inclusive
        assert 0.25 <= r["cos_sim"] <= 0.95, r
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_adaptive_band_params_math():
    """The banding derivation pins: classic (8, 32) at oracle SF, (12, 64)
    at sf1 scale, monotone non-decreasing growth, and no domain error at
    threshold 1.0."""
    from ibc_spark.ext.dedup import adaptive_band_params

    assert adaptive_band_params(605, 0.9) == (8, 32)
    assert adaptive_band_params(6050, 0.9) == (12, 64)
    prev_r = prev_b = 0
    for n in (10, 100, 1000, 10_000, 100_000, 1_000_000):
        r, b = adaptive_band_params(n, 0.9)
        assert r >= prev_r and b >= prev_b
        prev_r, prev_b = r, b
    r1, b1 = adaptive_band_params(1000, 1.0)
    assert r1 >= 8 and b1 >= 8
    # fixed-r mode derives only B
    assert adaptive_band_params(0, 0.9, bits_per_band=8)[1] == 32


def test_eval_retrieval_metrics_consistency(spark):
    """recall@5 = n_hit/5 exactly, mrr = 1/first system rank of a gold
    neighbor, one row per gold query, and the portable-LSH system must
    clear the same recall floor its recall pytest pins (>= 0.3 overall)."""
    from ibc_spark.registry import QUERIES

    rows = QUERIES["eval_retrieval_metrics"](spark, SF_ORACLE).collect()
    assert len(rows) == 10
    total_hits = 0
    for r in rows:
        assert 0 <= r["n_hit"] <= 5
        assert abs(r["recall_at_5"] - r["n_hit"] / 5.0) < 1e-9
        assert (r["mrr"] == 0.0) == (r["n_hit"] == 0)
        if r["mrr"] > 0:
            assert 1 / 5 - 1e-9 <= r["mrr"] <= 1.0
        total_hits += r["n_hit"]
    assert total_hits / 50.0 >= 0.3


def test_spans_rewrite_cuts_noncanonical_only(spark):
    """Two docs share a 15-token passage: the canonical occurrence (lower
    doc_id) survives, the other doc loses exactly those tokens; a
    unique-text doc round-trips whitespace-normalized."""
    from ibc_spark.ext.dedup import spans_rewrite

    shared = " ".join(f"s{i}" for i in range(15))
    a = "ua1 ua2 ua3 " + shared + " ua4 ua5"
    b = "ub1 " + shared + " ub2 ub3 ub4 ub5 ub6 ub7"
    c = " ".join(f"c{i}" for i in range(30))
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in spans_rewrite(df, id_col="doc_id", text_col="text", window=10).collect()
    }
    # doc 1 is canonical for every duplicated window: nothing cut
    assert rows[1]["cut_tokens"] == 0
    assert rows[1]["cleaned_text"] == a
    # doc 2 loses exactly the 15 shared tokens (positions 2..16)
    assert rows[2]["cut_tokens"] == 15
    assert rows[2]["kept_tokens"] == rows[2]["n_tokens"] - 15
    assert rows[2]["cleaned_text"] == "ub1 ub2 ub3 ub4 ub5 ub6 ub7"
    # unique doc: untouched
    assert rows[3]["cut_tokens"] == 0 and rows[3]["cleaned_text"] == c


def test_spans_rewrite_within_doc_repeat(spark):
    """A passage repeated INSIDE one document keeps only its first
    occurrence — the second range is cut."""
    from ibc_spark.ext.dedup import spans_rewrite

    block = " ".join(f"w{i}" for i in range(10))
    text = block + " mid1 mid2 " + block
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    (r,) = spans_rewrite(df, id_col="doc_id", text_col="text", window=10).collect()
    assert r["n_tokens"] == 22
    assert r["cut_tokens"] == 10
    assert r["cleaned_text"] == block + " mid1 mid2"


def test_boilerplate_passages_per_source_df(spark):
    """The DF threshold is PER SOURCE: a 5-gram shared by two docs of
    source A is boilerplate there, but the same 5-gram alone in source B
    is not."""
    from ibc_spark.ext.dedup import boilerplate_passages

    chrome = "cookie banner accept all terms"
    rows = [
        (1, chrome + " alpha beta gamma delta epsilon", "A"),
        (2, chrome + " zeta eta theta iota kappa", "A"),
        (3, chrome + " unique lambda mu nu xi", "B"),
        (4, "totally different text with no shared grams here", "B"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in boilerplate_passages(
            df, id_col="doc_id", text_col="text", group_col="source", n=5, min_docs=2
        ).collect()
    }
    # source A: exactly the one shared 5-gram ("cookie banner accept all
    # terms") is boilerplate in both docs
    assert out[1]["n_boilerplate"] == 1 and out[2]["n_boilerplate"] == 1
    assert out[1]["n_passages"] == 6  # 10 tokens -> 6 stride-1 5-grams
    # source B: same chrome appears in only ONE doc of B -> not boilerplate
    assert out[3]["n_boilerplate"] == 0
    assert out[4]["n_boilerplate"] == 0
    assert all(0.0 <= r["boilerplate_ratio"] <= 1.0 for r in out.values())


def test_shuffle_epoch_order_is_contiguous_permutation(spark):
    """train_pos is exactly 1..2n; every doc appears once per epoch; and
    the two epochs' relative orders differ (the hash key is
    epoch-dependent, so the second pass is a different permutation)."""
    from ibc_spark.ext.persistreg import release_persisted
    from ibc_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    rows = QUERIES["shuffle_epoch_order"](spark, SF_SMOKE).collect()
    release_persisted()
    n_docs = len({r["doc_id"] for r in rows})
    assert len(rows) == 2 * n_docs
    assert sorted(r["train_pos"] for r in rows) == list(range(1, 2 * n_docs + 1))
    per_epoch = {0: {}, 1: {}}
    for r in rows:
        per_epoch[r["epoch"]][r["doc_id"]] = r["train_pos"]
    assert set(per_epoch[0]) == set(per_epoch[1])
    order0 = sorted(per_epoch[0], key=per_epoch[0].get)
    order1 = sorted(per_epoch[1], key=per_epoch[1].get)
    assert order0 != order1


def test_quality_logit_monotone_in_stopwords(spark):
    """The classifier must score a fluent (stopword-rich) doc above the
    same-shape word soup, and the keep flag must be logit > 0."""
    from ibc_spark.ext.text import quality_logit

    fluent = "the cat is on the mat and the dog is in the house"
    soup = "xqz vbn mlk jhg fds apo iuy tre wqa zxc cvb nmq"
    df = spark.createDataFrame([(1, fluent), (2, soup)], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            quality_logit("text").alias("z"),
        ).collect()
    }
    assert rows[1]["z"] > rows[2]["z"]
    assert rows[1]["z"] > 0  # 8/13 stopwords dominates every other term


def test_spans_rewrite_preserves_case(spark):
    """Matching runs on lowercased tokens, but the rewrite must emit the
    document's own spellings: a mixed-case unique doc round-trips with its
    casing intact, and a case-variant duplicate is still CUT (lowercased
    matching) while the canonical doc keeps its original casing."""
    from ibc_spark.ext.dedup import spans_rewrite
    from ibc_spark.ext.persistreg import release_persisted

    shared_lower = " ".join(f"s{i}" for i in range(10))
    shared_upper = " ".join(f"S{i}" for i in range(10))
    a = "Alpha Beta " + shared_upper  # canonical (doc 1): keeps its casing
    b = "gamma " + shared_lower + " Delta Epsilon End1 End2 End3"
    c = "Unique Mixed CASE text that Repeats nothing At All here now"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], ["doc_id", "text"])
    rows = {
        r["doc_id"]: r
        for r in spans_rewrite(df, id_col="doc_id", text_col="text", window=10).collect()
    }
    release_persisted()
    assert rows[3]["cleaned_text"] == c  # casing preserved verbatim
    assert rows[1]["cut_tokens"] == 0
    assert rows[1]["cleaned_text"] == a  # canonical keeps ITS casing
    assert rows[2]["cut_tokens"] == 10  # case-variant dup still matched
    assert rows[2]["cleaned_text"] == "gamma Delta Epsilon End1 End2 End3"


def test_feature_hashing_reference(spark):
    """Feature-hashing vectors equal a direct hashlib reference: per doc,
    bucket = first-60-md5-bits % 8, sign = bit 3 parity, summed."""
    import hashlib

    from ibc_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    rows = {r["doc_id"]: r for r in QUERIES["text_feature_hashing"](spark, SF_SMOKE).collect()}
    import duckdb

    con = duckdb.connect()
    texts = con.sql(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet' LIMIT 20"
    ).fetchall()
    for doc_id, text_ in texts:
        vec = [0] * 8
        for term in [t for t in text_.lower().split() if t]:
            h1 = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
            vec[h1 % 8] += 1 if ((h1 >> 3) & 1) == 0 else -1
        got = [rows[doc_id][f"h{k}"] for k in range(8)]
        assert got == vec, (doc_id, got, vec)


def test_bpe_pair_counts_reference(spark):
    """BPE pair counts equal the direct python count (with multiplicity),
    and the plan compiles to TakeOrderedAndProject (bounded candidate
    list, no global sort)."""
    from collections import Counter

    from ibc_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    df = QUERIES["vocab_bpe_pair_counts"](spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    got = [(r["pair"], r["n_pairs"]) for r in df.collect()]

    import duckdb

    con = duckdb.connect()
    texts = con.sql(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'").fetchall()
    ref = Counter()
    for (t,) in texts:
        for term in [x for x in t.lower().split() if x]:
            for i in range(len(term) - 1):
                ref[term[i : i + 2]] += 1
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


def test_psi_zero_for_identical_distribution(spark):
    """The ENTRY's own core (quality_psi_frame): two sources carrying the
    same quality mix must score identical PSI; an all-low-quality source
    must score strictly higher, and every PSI is >= 0."""
    from ibc_spark.registry_ext_text import quality_psi_frame

    fluent = "the cat is on the mat and the dog is in the house"
    soup = "xqz vbn mlk jhg fds apo iuy tre wqa zxc cvb nmq"
    rows = []
    # sources A and B carry the SAME mix -> PSI(A) == PSI(B)
    for i in range(10):
        rows.append((i, fluent if i % 2 == 0 else soup, "A"))
        rows.append((100 + i, fluent if i % 2 == 0 else soup, "B"))
    # source C is all-soup -> shifted vs the corpus
    for i in range(10):
        rows.append((200 + i, soup, "C"))
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    psi = {r["source"]: r["psi"] for r in quality_psi_frame(d).collect()}
    n = {r["source"]: r["n_docs"] for r in quality_psi_frame(d).collect()}
    assert n == {"A": 10, "B": 10, "C": 10}
    assert abs(psi["A"] - psi["B"]) < 1e-12
    assert psi["C"] > psi["A"] > 0  # C is the outlier; A/B mildly off due to C


def test_bpe_pair_counts_reference(spark):
    """BPE pair counts equal the direct python count (with multiplicity),
    and the plan compiles to TakeOrderedAndProject (bounded candidate
    list, no global sort)."""
    from collections import Counter

    from ibc_spark.registry import QUERIES

    from .conftest import SF_SMOKE

    df = QUERIES["vocab_bpe_pair_counts"](spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    got = [(r["pair"], r["n_pairs"]) for r in df.collect()]

    import duckdb

    con = duckdb.connect()
    texts = con.sql(f"SELECT text FROM '{SF_SMOKE}/documents.parquet'").fetchall()
    ref = Counter()
    for (t,) in texts:
        for term in [x for x in t.lower().split() if x]:
            for i in range(len(term) - 1):
                ref[term[i : i + 2]] += 1
    want = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


def test_psi_zero_for_identical_distribution(spark):
    """PSI must be ~0 when a source's quality distribution matches the
    corpus (two sources, identical text multisets), and positive when one
    source is shifted."""
    from ibc_spark.ext.foldspec import _ordered_fold  # noqa: F401 (import parity)
    from ibc_spark.ext.text import quality_logit
    from pyspark.sql import functions as F

    fluent = "the cat is on the mat and the dog is in the house"
    soup = "xqz vbn mlk jhg fds apo iuy tre wqa zxc cvb nmq"
    rows = []
    # sources A and B carry the SAME mix -> PSI(A) == PSI(B) == 0
    for i in range(10):
        rows.append((i, fluent if i % 2 == 0 else soup, "A"))
        rows.append((100 + i, fluent if i % 2 == 0 else soup, "B"))
    # source C is all-soup -> shifted vs the corpus
    for i in range(10):
        rows.append((200 + i, soup, "C"))
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    z = quality_logit("text")
    binned = d.select(
        "source",
        F.greatest(F.least(F.floor(z * 4.0), F.lit(7)), F.lit(-8)).cast("long").alias("bin"),
    )
    sb = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c_sb"))
    s = sb.groupBy("source").agg(F.sum("c_sb").alias("n_s"))
    b = sb.groupBy("bin").agg(F.sum("c_sb").alias("c_b"))
    tot = b.agg(F.sum("c_b").alias("n"))
    p = F.col("c_sb").cast("double") / F.col("n_s")
    q = F.col("c_b").cast("double") / F.col("n")
    psi = {
        r["source"]: r["psi"]
        for r in (
            sb.join(s, "source").join(F.broadcast(b), "bin").crossJoin(F.broadcast(tot))
            .select("source", ((p - q) * F.log(p / q)).alias("term"), "bin")
            .groupBy("source")
            .agg(F.sum("term").alias("psi"))
        ).collect()
    }
    # A and B mirror the corpus only approximately (C skews it); but A==B exactly
    assert abs(psi["A"] - psi["B"]) < 1e-12
    assert psi["C"] > psi["A"] > 0  # C is the outlier; A/B mildly off due to C


def test_contrastive_triplets_invariants(spark):
    """Every triplet's positive is the query's exact top-1 (strictly more
    similar than any emitted negative → margin > 0), negatives never
    equal the positive or the query, and each query contributes ≤5
    triplets."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    rows = QUERIES["sample_contrastive_triplets"](spark, SF_ORACLE).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["neg_id"] != r["pos_id"]
        assert r["neg_id"] != r["query_id"]
        assert r["margin"] >= 0  # positive is rank-1 (ties round to 0)
        assert abs(r["margin"] - round(r["pos_cos"] - r["neg_cos"], 4)) < 1e-9
    assert all(len(v) <= 5 for v in per_q.values())


def test_eval_dedup_metrics_invariants(spark):
    """Pair-level dedup eval: hits bounded by both arms, metrics are the
    exact ratios of the counted integers, and the deterministic hash
    sample makes repeated runs identical."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    r1 = QUERIES["eval_dedup_metrics"](spark, SF_ORACLE).collect()[0]
    r2 = QUERIES["eval_dedup_metrics"](spark, SF_ORACLE).collect()[0]
    assert r1 == r2
    assert r1["n_hits"] <= min(r1["n_true_pairs"], r1["n_sys_pairs"])
    if r1["n_sys_pairs"]:
        assert abs(r1["prec"] - round(r1["n_hits"] / r1["n_sys_pairs"], 6)) < 1e-12
    if r1["n_true_pairs"]:
        assert abs(r1["recall"] - round(r1["n_hits"] / r1["n_true_pairs"], 6)) < 1e-12
    assert 0 < r1["n_docs"]


def test_curriculum_quality_order_invariants(spark):
    """Easy-first curriculum: train_pos is a contiguous 1..n permutation,
    bucket is non-increasing along the order, and within a bucket the
    hash key (not doc_id) drives the order (shuffled, not sorted)."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    rows = sorted(
        QUERIES["curriculum_quality_order"](spark, SF_ORACLE).collect(),
        key=lambda r: r["train_pos"],
    )
    n = len(rows)
    assert [r["train_pos"] for r in rows] == list(range(1, n + 1))
    buckets = [r["bucket"] for r in rows]
    assert buckets == sorted(buckets, reverse=True)
    # at least one bucket is internally hash-shuffled (doc_id not sorted)
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r["bucket"]].append(r["doc_id"])
    big = [v for v in by_bucket.values() if len(v) > 3]
    assert big and any(v != sorted(v) for v in big)


# ---------------------------------------------------------------------------
# PNG full-matrix + BMP palette/RLE8/32-bit (round 14)
# ---------------------------------------------------------------------------

from hypothesis import given as _r14_given, settings as _r14_settings
from hypothesis import strategies as _r14_st


@_r14_given(
    h=_r14_st.integers(min_value=1, max_value=16),
    w=_r14_st.integers(min_value=1, max_value=16),
    depth=_r14_st.sampled_from([1, 2, 4, 8]),
    interlace=_r14_st.booleans(),
    seed=_r14_st.integers(min_value=0, max_value=2**31),
)
@_r14_settings(max_examples=60, deadline=None)
def test_png_palette_roundtrip(h, w, depth, interlace, seed):
    import numpy as np

    from ibc_spark.ext.multimodal import _decode_png, encode_png_palette

    rng = np.random.default_rng(seed)
    n = 1 << depth
    pal = rng.integers(0, 256, (n, 3), np.uint8)
    idx = rng.integers(0, n, (h, w), np.uint8)
    p = encode_png_palette(idx, pal, bit_depth=depth, interlace=interlace)
    assert np.array_equal(_decode_png(p), pal[idx])


@_r14_given(
    h=_r14_st.integers(min_value=1, max_value=16),
    w=_r14_st.integers(min_value=1, max_value=16),
    depth=_r14_st.sampled_from([1, 2, 4, 8, 16]),
    interlace=_r14_st.booleans(),
    seed=_r14_st.integers(min_value=0, max_value=2**31),
)
@_r14_settings(max_examples=60, deadline=None)
def test_png_gray_depth_matrix_roundtrip(h, w, depth, interlace, seed):
    """Gray at every legal depth: sub-byte samples scale by 255/(2^d−1),
    16-bit rescales to its high byte — the spec's sample-depth rules."""
    import numpy as np

    from ibc_spark.ext.multimodal import _decode_png, encode_png_gray

    rng = np.random.default_rng(seed)
    g = rng.integers(0, 1 << depth, (h, w)).astype(
        np.uint16 if depth == 16 else np.uint8
    )
    p = encode_png_gray(g, bit_depth=depth, interlace=interlace)
    if depth < 8:
        exp8 = (g * (255 // ((1 << depth) - 1))).astype(np.uint8)
    elif depth == 8:
        exp8 = g.astype(np.uint8)
    else:
        exp8 = (g >> 8).astype(np.uint8)
    assert np.array_equal(_decode_png(p), np.repeat(exp8[:, :, None], 3, axis=2))


@_r14_given(
    h=_r14_st.integers(min_value=1, max_value=12),
    w=_r14_st.integers(min_value=1, max_value=12),
    seed=_r14_st.integers(min_value=0, max_value=2**31),
)
@_r14_settings(max_examples=40, deadline=None)
def test_png_truecolor_interlaced_roundtrip(h, w, seed):
    import numpy as np

    from ibc_spark.ext.multimodal import _decode_png, encode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), np.uint8)
    assert np.array_equal(_decode_png(encode_png(img, interlace=True)), img)
    # non-interlaced payloads stay byte-stable vs the r13 writer contract
    assert np.array_equal(_decode_png(encode_png(img)), img)


def test_png_error_paths_r14():
    import numpy as np
    import pytest as _pytest

    from ibc_spark.ext.multimodal import (
        _decode_png,
        encode_png_gray,
        encode_png_palette,
    )

    pal = np.zeros((4, 3), np.uint8)
    with _pytest.raises(ValueError, match="bit depth"):
        encode_png_palette(np.zeros((2, 2), np.uint8), pal, bit_depth=3)
    with _pytest.raises(ValueError, match="larger than"):
        encode_png_palette(np.zeros((2, 2), np.uint8), np.zeros((8, 3), np.uint8), bit_depth=2)
    with _pytest.raises(ValueError, match="out of range"):
        encode_png_palette(np.full((2, 2), 7, np.uint8), pal, bit_depth=8)
    with _pytest.raises(ValueError, match="out of range"):
        encode_png_gray(np.full((2, 2), 9, np.uint8), bit_depth=2)
    # indexed PNG missing its PLTE chunk
    p = bytearray(encode_png_palette(np.zeros((2, 2), np.uint8), pal, bit_depth=8))
    pos = bytes(p).index(b"PLTE") - 4
    import struct as _s

    (ln,) = _s.unpack_from(">I", p, pos)
    del p[pos : pos + 12 + ln]
    with _pytest.raises(ValueError, match="PLTE"):
        _decode_png(bytes(p))


@_r14_given(
    h=_r14_st.integers(min_value=1, max_value=14),
    w=_r14_st.integers(min_value=1, max_value=14),
    k=_r14_st.sampled_from([16, 256]),
    rle=_r14_st.booleans(),
    seed=_r14_st.integers(min_value=0, max_value=2**31),
)
@_r14_settings(max_examples=50, deadline=None)
def test_bmp_palette_roundtrip(h, w, k, rle, seed):
    import numpy as np

    from ibc_spark.ext.multimodal import _decode_bmp, encode_bmp_palette

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (k, 3), np.uint8)
    idx = rng.integers(0, k, (h, w), np.uint8)
    assert np.array_equal(
        _decode_bmp(encode_bmp_palette(idx, pal, rle=rle)), pal[idx]
    )


def test_bmp_32bit_and_seams():
    import struct as _s

    import numpy as np
    import pytest as _pytest

    from ibc_spark.ext.multimodal import _decode_bmp

    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (3, 5, 3), np.uint8)
    plane = np.concatenate([img[::-1, :, ::-1], np.zeros((3, 5, 1), np.uint8)], axis=2)
    hdr = _s.pack("<2sIHHI", b"BM", 14 + 40 + plane.size, 0, 0, 54) + _s.pack(
        "<IiiHHIIiiII", 40, 5, 3, 1, 32, 0, plane.size, 0, 0, 0, 0
    )
    assert np.array_equal(_decode_bmp(hdr + plane.tobytes()), img)
    # 4-bit stays the loud seam
    hdr4 = _s.pack("<2sIHHI", b"BM", 100, 0, 0, 54) + _s.pack(
        "<IiiHHIIiiII", 40, 5, 3, 1, 4, 0, 0, 0, 0, 0, 0
    )
    with _pytest.raises(NotImplementedError):
        _decode_bmp(hdr4 + b"\x00" * 64)


# ---------------------------------------------------------------------------
# TGA + ICO (round 14, third session)
# ---------------------------------------------------------------------------


@_r14_given(
    h=_r14_st.integers(min_value=1, max_value=14),
    w=_r14_st.integers(min_value=1, max_value=14),
    rle=_r14_st.booleans(),
    seed=_r14_st.integers(min_value=0, max_value=2**31),
)
@_r14_settings(max_examples=50, deadline=None)
def test_tga_roundtrip(h, w, rle, seed):
    import numpy as np

    from ibc_spark.ext.multimodal import decode_image, encode_tga

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), np.uint8)
    assert np.array_equal(decode_image(encode_tga(img, rle=rle)), img)


def test_tga_gray_topdown_and_ico_container():
    import struct as _s

    import numpy as np

    from ibc_spark.ext.multimodal import (
        TGA_FOOTER,
        decode_image,
        default_rle_palette,
        encode_png,
    )

    rng = np.random.default_rng(9)
    # grayscale, TOP-DOWN via descriptor bit 5 (hand-built header)
    g = rng.integers(0, 256, (5, 4), np.uint8)
    hdr = _s.pack("<BBBHHBHHHHBB", 0, 0, 3, 0, 0, 0, 0, 0, 4, 5, 8, 0x20)
    tga = hdr + g.tobytes() + _s.pack("<II", 0, 0) + TGA_FOOTER
    assert np.array_equal(decode_image(tga), np.repeat(g[:, :, None], 3, 2))

    # ICO wrapping a PNG payload
    img = rng.integers(0, 256, (8, 8, 3), np.uint8)
    png = encode_png(img)
    ico = _s.pack("<HHH", 0, 1, 1) + _s.pack("<BBBBHHII", 8, 8, 0, 0, 1, 32, len(png), 22) + png
    assert np.array_equal(decode_image(ico), img)

    # ICO classic headerless DIB (doubled biHeight), 32-bit BGRX
    h, w = 6, 5
    plane = np.concatenate([img[:h, :w][::-1, :, ::-1], np.zeros((h, w, 1), np.uint8)], 2)
    stride = ((w * 4 + 3) // 4) * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 4] = plane.reshape(h, w * 4)
    dib = _s.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0, 0, 0, 0, 0, 0) + rows.tobytes()
    ico2 = _s.pack("<HHH", 0, 1, 1) + _s.pack("<BBBBHHII", w, h, 0, 0, 1, 32, len(dib), 22) + dib
    assert np.array_equal(decode_image(ico2), img[:h, :w])

    # ICO 8-bit palette DIB
    pal = default_rle_palette()
    idx = rng.integers(0, 256, (4, 4), np.uint8)
    quads = b"".join(bytes([int(b), int(gg), int(r), 0]) for r, gg, b in pal)
    rows8 = idx[::-1].copy()
    dib8 = _s.pack("<IiiHHIIiiII", 40, 4, 8, 1, 8, 0, 0, 0, 0, 256, 0) + quads + rows8.tobytes()
    ico3 = _s.pack("<HHH", 0, 1, 1) + _s.pack("<BBBBHHII", 4, 4, 0, 0, 1, 8, len(dib8), 22) + dib8
    assert np.array_equal(decode_image(ico3), pal[idx])

    # the TGA-vs-CUR magic collision: an uncompressed truecolor TGA
    # header begins 00 00 02 00 — footer routing must win
    from ibc_spark.ext.multimodal import encode_tga

    img2 = rng.integers(0, 256, (3, 3, 3), np.uint8)
    payload = encode_tga(img2, rle=False)
    assert payload[:4] == b"\x00\x00\x02\x00"  # would look like CUR
    assert np.array_equal(decode_image(payload), img2)


def test_tga_rle_truncated_payload_errors_instead_of_hanging():
    """A truncated TGA RLE stream must raise, not spin: past the payload
    end the packet slices are empty and the output stops growing
    (ADVICE r14)."""
    import numpy as np
    import pytest

    from ibc_spark.ext.multimodal import _decode_tga, encode_tga

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    payload = encode_tga(img, rle=True)
    with pytest.raises(ValueError, match="truncated TGA RLE"):
        _decode_tga(payload[: len(payload) // 2])
    # a run packet whose pixel bytes are cut off errors too
    with pytest.raises(ValueError, match="truncated TGA RLE"):
        _decode_tga(payload[:19])
