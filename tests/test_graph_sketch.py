"""Tests for iterative connected components and sketch accuracy bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from ibc_spark.ext.graph import connected_components, dedup_clusters
from ibc_spark.io_.sources import read_table

from .conftest import SF_SMOKE


def test_connected_components_handcrafted(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20} (self-loop)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_converges(spark):
    # a 40-node path needs ~log2(40) doubling rounds < max_iter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    got = connected_components(edges, max_iter=50).collect()
    assert {r["component"] for r in got} == {0}
    assert len(got) == 41


def test_dedup_clusters_one_kept_per_component(spark):
    edges = spark.createDataFrame(
        [(5, 9), (9, 7), (100, 101)], "id_a long, id_b long"
    )
    rows = dedup_clusters(edges).collect()
    kept = [r for r in rows if r["is_kept"]]
    assert {r["kept_id"] for r in kept} == {5, 100}
    assert all(r["kept_id"] == r["member_id"] for r in kept)
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["kept_id"], []).append(r)
    assert sorted(by_cluster) == [5, 100]
    assert sum(r["is_kept"] for r in rows) == 2


def test_approx_sketches_within_bounds(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    approx = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("au"),
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
        )
        .collect()
    )
    exact = {
        r["event_type"]: (r["eu"], r["ep50"])
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("eu"),
            F.expr("percentile(value, 0.5)").alias("ep50"),
        )
        .collect()
    }
    for r in approx:
        eu, ep50 = exact[r["event_type"]]
        assert abs(r["au"] - eu) <= max(2, 0.05 * eu)
        assert abs(r["p50"] - ep50) <= max(0.5, 0.05 * abs(ep50))


def test_kmv_sketch_entry_bounds(spark):
    """The portable KMV/sample sketch entry (now under the full oracle)
    stays within statistical bounds of the exact sibling: distinct-count
    estimates within ~3 sigma (rse ~ 1/sqrt(k-2), k=64) and sampled
    quantiles within 15% of the exact interpolated values."""
    from ibc_spark.registry import QUERIES
    from ibc_spark.registry_ext import _KMV_K

    from .conftest import SF_ORACLE

    approx = {
        r["event_type"]: r
        for r in QUERIES["approx_sketch_stats"](spark, SF_ORACLE).collect()
    }
    exact = {
        r["event_type"]: r
        for r in QUERIES["sketch_exact_stats"](spark, SF_ORACLE).collect()
    }
    assert set(approx) == set(exact)
    rse = 3.0 / (_KMV_K - 2) ** 0.5
    for et, a in approx.items():
        e = exact[et]
        assert abs(a["approx_users"] - e["n_users"]) <= max(2.0, rse * e["n_users"]), et
        assert a["n_events"] == e["n_events"], et
        for c in ("value_p50", "value_p95"):
            # NULL percentiles only when the group's hash-sample is empty —
            # impossible at this SF (2000 sampled values per type)
            assert a[c] is not None, (et, c)
            assert abs(a[c] - e[c]) <= max(0.5, 0.15 * abs(e[c])), (et, c)


def test_kmv_sketch_is_mergeable(spark):
    """KMV's merge rule (union the per-shard k-minimum hash sets, re-take
    the k smallest) must reproduce the whole-input sketch exactly — the
    property that lets per-day KMV state merge on read like the HLL/CMS
    family. Checked on the raw hash sets the entry is built from."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry_ext import _KMV_K

    from .conftest import SF_ORACLE

    ev = read_table(spark, SF_ORACLE, "events")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("uh"),
        (F.col("event_id") % 2).alias("shard"),
    )
    w = Window.partitionBy("event_type").orderBy("uh")

    def kmin(df):
        return (
            df.select("event_type", "uh")
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _KMV_K)
            .select("event_type", "uh")
        )

    whole = kmin(h)
    merged = kmin(
        kmin(h.where(F.col("shard") == 0)).unionByName(
            kmin(h.where(F.col("shard") == 1))
        )
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_kmv_setops_bounds(spark):
    """KMV set-op estimates stay within ~3 sigma of the exact sizes, and
    inclusion–exclusion is internally consistent (est_intersection =
    est_a + est_b - est_union by construction)."""
    from ibc_spark.registry import QUERIES
    from ibc_spark.registry_ext import _KMV_K

    from .conftest import SF_ORACLE

    r = QUERIES["sketch_kmv_setops"](spark, SF_ORACLE).collect()[0]
    rse = 3.0 / (_KMV_K - 2) ** 0.5
    assert abs(r.est_a - r.exact_a) <= max(2.0, rse * r.exact_a)
    assert abs(r.est_b - r.exact_b) <= max(2.0, rse * r.exact_b)
    assert abs((r.est_a + r.est_b - r.est_union) - r.est_intersection) < 1e-3
    assert 0 <= r.est_union <= r.est_a + r.est_b + 1e-6


def test_hll_mergeable_sketch_bounds_and_merge_consistency(spark):
    """Every bound column of ``sketch_hll_mergeable`` holds at the oracle
    SF: per-priority HLL estimates within ±5% of exact; the merged-union
    estimate within ±5% of the global exact count and within 1% of the
    sketch-of-the-whole."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    rows = QUERIES["sketch_hll_mergeable"](spark, SF_ORACLE).collect()
    assert "ALL" in {r["priority"] for r in rows} and len(rows) > 1
    for r in rows:
        assert r["est_within_5pct_ok"] and r["merge_within_1pct_ok"], r


def test_knn_graph_blocked_invariant_to_block_count(spark):
    """The exact kNN graph must not depend on how vectors are blocked —
    direct regression for the id-equality self-pair mask (a positional
    fill_diagonal silently diverged whenever the two crossJoin legs
    collected a block in different orders)."""
    from ibc_spark.ext.similarity import knn_graph_blocked

    e = read_table(spark, SF_SMOKE, "embeddings")
    g1 = sorted(
        map(
            tuple,
            knn_graph_blocked(
                e, id_col="vec_id", vec_col="embedding", k=3, n_blocks=1
            ).collect(),
        )
    )
    g5 = sorted(
        map(
            tuple,
            knn_graph_blocked(
                e, id_col="vec_id", vec_col="embedding", k=3, n_blocks=5
            ).collect(),
        )
    )
    assert g1 == g5
    assert all(src != dst for src, dst, *_ in g1)


def test_knn_graph_lsh_recall_vs_exact(spark):
    """LSH-pruned kNN graph recalls >=0.9 of the exact graph's edges at the
    registry settings (bits=4, tables=8, Hamming<=1 probes) — the same
    floor the `knn_graph_lsh` attestation entry states as its oracled
    `recall_ok` invariant."""
    from ibc_spark.ext.similarity import knn_graph_blocked, knn_graph_lsh

    e = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["src"], r["dst"])
        for r in knn_graph_blocked(
            e, id_col="vec_id", vec_col="embedding", k=3
        ).collect()
    }
    approx = {
        (r["src"], r["dst"])
        for r in knn_graph_lsh(
            e, id_col="vec_id", vec_col="embedding", k=3, bits=4, tables=8
        ).collect()
    }
    assert exact  # non-vacuous
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall
    assert all(src != dst for src, dst in approx)


def test_knn_graph_lsh_portable_recall_vs_exact(spark):
    """The md5-planes oracled variant must hold the same recall bar as the
    PRNG variant — different random planes, same statistics."""
    from ibc_spark.ext.similarity import knn_graph_blocked, knn_graph_lsh

    e = read_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r["src"], r["dst"])
        for r in knn_graph_blocked(
            e, id_col="vec_id", vec_col="embedding", k=3
        ).collect()
    }
    approx = {
        (r["src"], r["dst"])
        for r in knn_graph_lsh(
            e, id_col="vec_id", vec_col="embedding", k=3, bits=4, tables=8,
            signature="md5",
        ).collect()
    }
    assert exact
    assert len(exact & approx) / len(exact) >= 0.9


def test_knn_graph_block_cap_raises_loudly(spark):
    """A packed block above max_block_rows must fail the stage with an
    actionable error, not limp toward the 2 GB single-row limit."""
    import pytest

    from ibc_spark.ext.similarity import knn_graph_blocked

    e = read_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(Exception, match="max_block_rows"):
        knn_graph_blocked(
            e, id_col="vec_id", vec_col="embedding", k=3, n_blocks=2, max_block_rows=10
        ).collect()


def test_kll_mergeable_quantile_bounds_and_merge_consistency(spark):
    """Every bound column of ``sketch_kll_mergeable`` holds at the oracle
    SF: per-type KLL p50 within max(1, 5%) and p95 within max(2, 10%) of
    exact, and the same for the 'ALL' row's merged-of-parts quantiles
    against the exact global ones."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    rows = QUERIES["sketch_kll_mergeable"](spark, SF_ORACLE).collect()
    assert "ALL" in {r["event_type"] for r in rows} and len(rows) > 1
    for r in rows:
        assert r["p50_ok"] and r["p95_ok"], r


def test_theta_setops_bounds_vs_exact(spark):
    """Every bound column of ``sketch_theta_setops`` holds at the oracle
    SF: Theta per-type and union estimates within max(2, 5%) of the exact
    distinct-user counts, and the derived intersection within max(3, 8%
    of the union) of the exact one."""
    from ibc_spark.registry import QUERIES

    from .conftest import SF_ORACLE

    rows = QUERIES["sketch_theta_setops"](spark, SF_ORACLE).collect()
    assert {r["segment"] for r in rows} == {
        "click",
        "purchase",
        "click_union_purchase",
        "click_intersect_purchase",
    }
    for r in rows:
        assert r["est_ok"], r


def test_kmv_rollup_merge_is_lossless(spark):
    """Merging daily KMV sketches must reproduce the direct whole-range
    sketch EXACTLY (the k global minima are contained in the union of
    daily k-minima), and the estimate must stay within 3 sigma of exact."""
    from tests.conftest import SF_ORACLE
    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry import QUERIES

    rows = QUERIES["sketch_kmv_rollup_merge"](spark, str(SF_ORACLE)).collect()
    assert rows
    exact = {
        r["event_type"]: r["exact"]
        for r in read_table(spark, str(SF_ORACLE), "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for r in rows:
        assert r["merge_lossless"], r
        ex = exact[r["event_type"]]
        # KMV rse ~ 1/sqrt(k-2) with k=64 → ~12.7%; allow 3 sigma
        assert abs(r["approx_merged"] - ex) <= max(3 * ex / (62 ** 0.5), 5), (r, ex)


def test_cross_source_overlap_matrix_properties(spark):
    """All 190 source pairs present; estimates positive; the KMV union
    estimate is sane (union >= max side within sketch error); and for a
    spot-checked pair the Jaccard estimate lands within the 3-sigma KMV
    band of the exact shingle Jaccard."""
    from tests.conftest import SF_ORACLE
    from ibc_spark.ext.dedup import shingles, tokens
    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry import QUERIES

    rows = QUERIES["profile_cross_source_overlap"](spark, str(SF_ORACLE)).collect()
    n_sources = 20
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r["est_a"] > 0 and r["est_b"] > 0 and r["est_union"] > 0
        # union can undershoot max(a,b) only by sketch error (~13% rse)
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) * 0.55
        assert r["jaccard_est"] <= 1.2

    d = read_table(spark, str(SF_ORACLE), "documents")
    base = d.where(F.col("source").isin("src0", "src1")).select(
        "source", F.explode(shingles(tokens(F.col("text")), 3)).alias("g")
    ).distinct()
    sets = {
        s: {r["g"] for r in base.where(F.col("source") == s).collect()}
        for s in ("src0", "src1")
    }
    exact_j = len(sets["src0"] & sets["src1"]) / len(sets["src0"] | sets["src1"])
    got = next(
        r for r in rows if r["source_a"] == "src0" and r["source_b"] == "src1"
    )
    # inclusion-exclusion compounds the per-sketch rse; allow a wide band
    assert abs(got["jaccard_est"] - exact_j) < 0.45


def test_mix_dedup_aware_weights_sum_and_penalty(spark):
    """Weights are a probability vector (sum 1 within rounding), one row
    per source, and a source's weight never exceeds what its distinct
    estimate alone would give (the overlap penalty only shrinks)."""
    from tests.conftest import SF_ORACLE
    from ibc_spark.registry import QUERIES

    rows = QUERIES["mix_dedup_aware_weights"](spark, str(SF_ORACLE)).collect()
    assert len(rows) == 20
    total_w = sum(r["mix_weight"] for r in rows)
    assert abs(total_w - 1.0) < 1e-3
    tot_est = sum(r["est_distinct"] for r in rows)
    for r in rows:
        assert 0.0 <= r["mix_weight"] <= 1.0
        assert 0.0 <= r["max_overlap"] <= 1.2
        naive = r["est_distinct"] / tot_est
        # penalty can only shrink RELATIVE weight up to renormalization:
        # bound loosely (renormalization can lift unpenalized sources)
        if r["max_overlap"] >= 0.5:
            assert r["mix_weight"] <= naive + 1e-9
