"""IVF ANN + distributed k-means tests (operators/ivf.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.operators.ivf import (
    ivf_assign,
    ivf_topk,
    kmeans_fit,
    kmeans_inertia,
)
from pyetl_spark.operators.knn import cosine_topk_bruteforce
from pyetl_spark.tables import load_tables
from tests.conftest import SF_ORACLE, SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    e = load_tables(spark, SF_ORACLE).embeddings
    return e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    ).cache()


def test_kmeans_deterministic_and_converging(spark, corpus):
    c1 = kmeans_fit(corpus, k=4, iters=2)
    c2 = kmeans_fit(corpus, k=4, iters=2)
    # determinism: identical centroids across runs
    r1 = {r["cell"]: r["centroid"] for r in c1.collect()}
    r2 = {r["cell"]: r["centroid"] for r in c2.collect()}
    assert r1 == r2
    # Lloyd iterations cannot increase inertia
    seeds = kmeans_fit(corpus, k=4, iters=0)
    i0 = kmeans_inertia(corpus, seeds)
    i2 = kmeans_inertia(corpus, c1)
    assert i2 <= i0 + 1e-9


def test_ivf_assign_partitions_corpus(spark, corpus):
    cents = kmeans_fit(corpus, k=4, iters=2)
    indexed = ivf_assign(corpus, cents)
    assert indexed.count() == corpus.count()
    cells = indexed.select("cell").distinct().count()
    assert 1 < cells <= 4


def test_ivf_topk_recall_and_exact_rerank(spark, corpus):
    cents = kmeans_fit(corpus, k=4, iters=2)
    indexed = ivf_assign(corpus, cents).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec"), "cell"
    )
    probes = corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    full_corpus = corpus.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec")
    )
    exact = cosine_topk_bruteforce(probes, full_corpus, k=5)
    approx = ivf_topk(probes, indexed, cents, k=5, nprobe=2)
    e_pairs = {(r["probe_id"], r["cand_id"]) for r in exact.collect()}
    a_rows = approx.collect()
    a_pairs = {(r["probe_id"], r["cand_id"]) for r in a_rows}
    # every probe returns k rows
    per = {}
    for r in a_rows:
        per[r["probe_id"]] = per.get(r["probe_id"], 0) + 1
    assert all(v == 5 for v in per.values())
    # recall bound: random N(0,.15) vectors cluster weakly; plumbing bound
    assert len(e_pairs & a_pairs) / len(e_pairs) >= 0.25
    # sims are exact cosines (re-rank correctness)
    e_sims = {(r["probe_id"], r["cand_id"]): r["sim"] for r in exact.collect()}
    for r in a_rows:
        if (r["probe_id"], r["cand_id"]) in e_sims:
            assert abs(e_sims[(r["probe_id"], r["cand_id"])] - r["sim"]) < 1e-12


def test_hash_spread_seeding_balances_cells(spark, corpus):
    """Hash-spread seeds: deterministic across runs, exactly k distinct
    seed cells, and the resulting inverted file is reasonably balanced
    (skew factor max/avg bounded) on the Gaussian fixture."""
    from pyetl_spark.operators.ivf import cell_size_stats, seed_centroids

    s1 = seed_centroids(corpus, k=6).collect()
    s2 = seed_centroids(corpus, k=6).collect()
    assert sorted(r["cell"] for r in s1) == list(range(6))
    assert {tuple(r["centroid"]) for r in s1} == {
        tuple(r["centroid"]) for r in s2
    }

    cents = kmeans_fit(corpus, k=6, iters=2)
    stats = cell_size_stats(ivf_assign(corpus, cents)).collect()[0]
    assert stats["n_cells"] == 6
    assert stats["min_cell"] >= 1
    # Gaussian blob + converged Lloyd → no cell should dominate wildly
    assert stats["skew_factor"] < 3.0, stats


def test_spread_seeding_not_worse_than_lowest_id(spark, corpus):
    """After the same Lloyd iterations, hash-spread seeding must reach
    inertia no worse than ~10% above the lowest-id baseline (on this
    fixture it's typically better — adjacent-id seeds start collapsed)."""
    from pyetl_spark.operators.ivf import kmeans_inertia

    spread = kmeans_fit(corpus, k=6, iters=2, spread_seeds=True)
    naive = kmeans_fit(corpus, k=6, iters=2, spread_seeds=False)
    i_spread = kmeans_inertia(corpus, spread)
    i_naive = kmeans_inertia(corpus, naive)
    assert i_spread <= i_naive * 1.10, (i_spread, i_naive)


def test_farthest_seeding_deterministic_and_better_than_lowid(spark, corpus):
    """Gonzalez seeding: replayable across runs, and after the same Lloyd
    refinement it must not lose to the degenerate lowest-id seeding."""
    from pyetl_spark.operators.ivf import seed_centroids_farthest

    s1 = seed_centroids_farthest(corpus, k=4)
    s2 = seed_centroids_farthest(corpus, k=4)
    assert {tuple(r["centroid"]) for r in s1.collect()} == {
        tuple(r["centroid"]) for r in s2.collect()
    }
    # seeds must be spread: pairwise distinct
    assert s1.select("centroid").distinct().count() == 4

    far = kmeans_fit(corpus, k=4, iters=2, seeding="farthest")
    low = kmeans_fit(corpus, k=4, iters=2, seeding="lowid")
    assert kmeans_inertia(corpus, far) <= kmeans_inertia(corpus, low) * 1.05


def test_farthest_seeds_cover_extent(spark, corpus):
    """Every farthest-point seed round picks the max-min-distance vector,
    so the minimum pairwise seed distance must be >= the min pairwise
    distance of hash-spread seeds (coverage property, same k)."""
    import itertools

    from pyetl_spark.operators.ivf import (
        seed_centroids,
        seed_centroids_farthest,
    )

    def min_pairwise(df):
        cents = [r["centroid"] for r in df.collect()]
        return min(
            sum((a - b) ** 2 for a, b in zip(u, v))
            for u, v in itertools.combinations(cents, 2)
        )

    far = min_pairwise(seed_centroids_farthest(corpus, k=4))
    spread = min_pairwise(seed_centroids(corpus, k=4, spread=True))
    assert far >= spread * 0.99


def test_persisted_index_matches_in_memory_path(spark):
    """vec_ann_ivf_persisted must return exactly the in-memory IVF
    result: persisting the index (centroid parquet + cell-partitioned
    corpus) is a layout change, never a semantic one."""
    from pyetl_spark import registry

    registry.load_all()
    mem = registry.QUERIES["vec_ann_ivf"](spark, SF_ORACLE).collect()
    per = registry.QUERIES["vec_ann_ivf_persisted"](spark, SF_ORACLE).collect()
    assert sorted([(r["probe_id"], r["rank"], r["cand_id"],
                    round(r["sim"], 9)) for r in mem]) == \
           sorted([(r["probe_id"], r["rank"], r["cand_id"],
                    round(r["sim"], 9)) for r in per])


def test_nearest_cell_jvm_and_arrow_paths_bit_identical(spark, corpus):
    """_nearest_cell has two physical forms (inlined JVM expression below
    _KERNEL_MIN_K, Arrow numpy kernel above) that must be BIT-identical:
    the kernel accumulates over the dimension axis in the same order as
    the zip_with/aggregate expression and argmin's first-min tie-break
    equals the (dist, cell) struct min. Force both paths over the SAME
    k=20 centroids and compare every (id, cell, dist) exactly."""
    import pyetl_spark.operators.ivf as ivf

    cents = ivf.kmeans_fit(corpus, k=20, iters=1)
    old = ivf._KERNEL_MIN_K
    try:
        ivf._KERNEL_MIN_K = 10_000  # force JVM expression path
        jvm = {
            r["vec_id"]: (r["cell"], r["dist"])
            for r in ivf._nearest_cell(corpus, cents, "e").collect()
        }
        ivf._KERNEL_MIN_K = 1  # force Arrow kernel path
        ker = {
            r["vec_id"]: (r["cell"], r["dist"])
            for r in ivf._nearest_cell(corpus, cents, "e").collect()
        }
    finally:
        ivf._KERNEL_MIN_K = old
    assert jvm == ker  # exact: same cells AND the same double bits


def test_empty_centroids_fail_loudly(spark, corpus):
    """ADVICE r5: an empty centroid table must raise a clear ValueError,
    not crash deep inside F.lit([]) / np.stack with an opaque error."""
    empty = spark.createDataFrame([], "cell int, centroid array<double>")
    with pytest.raises(ValueError, match="centroids DataFrame is empty"):
        ivf_assign(corpus, empty)


def test_localize_rows_exact_roundtrip_and_no_jobs(spark):
    """localize_rows (r16) rebuilds bounded index state as a VALUES
    LocalRelation: values/types must round-trip EXACTLY (doubles via
    repr + correctly-rounded literal parsing, incl. subnormal-ish and
    scientific-notation magnitudes; NaN/±Inf via sql_double's casts,
    which bare repr would spell as the identifiers nan/inf), and
    collecting the result must schedule no Spark job (the whole point
    vs createDataFrame)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from pyetl_spark.operators.ivf import localize_rows

    schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("centroid", ArrayType(DoubleType())),
        ]
    )
    vals = [
        (0, [0.1, -0.0, 1e-17, 123456.789]),
        (1, [float.fromhex("0x1.fffffffffffffp+1"), -2.5e300, 0.0]),
        (2, None),
        (3, [float("nan"), float("inf"), float("-inf"), -0.0]),
    ]
    df = localize_rows(spark, vals, schema)
    assert [str(f.dataType) for f in df.schema.fields] == [
        str(f.dataType) for f in schema.fields
    ]
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup() or [])
    got = sorted(df.collect(), key=lambda r: r["cell"])
    after = len(st.getJobIdsForGroup() or [])
    assert after == before, "collect over a VALUES LocalRelation ran a job"
    for (cell, cent), row in zip(vals, got):
        assert row["cell"] == cell
        if cent is None:
            assert row["centroid"] is None
        else:
            # exact bit identity, not approx
            assert [x.hex() for x in row["centroid"]] == [
                x.hex() for x in cent
            ]


def test_localize_rows_empty_and_unsupported(spark):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    import pytest as _pytest

    from pyetl_spark.operators.ivf import localize_rows

    schema = StructType([StructField("cell", IntegerType())])
    assert localize_rows(spark, [], schema).count() == 0
    with _pytest.raises(TypeError):
        localize_rows(
            spark,
            [("s",)],
            StructType([StructField("x", StringType())]),
        )


def _kmeans_fit_exact_sql_reference(corpus, k, iters, scale):
    """The SQL-aggregate Lloyd loop ``kmeans_fit_exact`` ran before its
    Arrow kernel, kept as the reference the kernel must reproduce bit for
    bit: phash60-spread seeds, JVM-side assignment, and one groupBy(cell)
    whose per-dimension means are exact integer fixed-point sums
    descaled as (Σq / n) / scale. Returns {cell: centroid}."""
    import pyetl_spark.operators.ivf as ivf
    from pyetl_spark.parity import phash60

    h = phash60(F.col("vec_id"))
    best = F.min(
        F.struct(h.alias("h"), F.col("vec_id").alias("i"),
                 F.col("e").alias("v"))
    )
    per_bucket = (
        corpus.groupBy(F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best.alias("b"))
        .select("bucket", F.col("b.v").alias("centroid"))
    )
    rows = [
        {"cell": i, "centroid": r["centroid"]}
        for i, r in enumerate(
            sorted(per_bucket.collect(), key=lambda r: r["bucket"])
        )
    ]
    for _ in range(iters):
        assigned = ivf._nearest_cell_rows(
            corpus.select("vec_id", "e"), rows, "e"
        )
        terms = ", ".join(
            f"(cast(sum(cast(signum(e[{j}]) * "
            f"floor(abs(e[{j}]) * {float(scale)}D + 0.5D) as bigint))"
            f" as double) / cast(count(1) as double)) / {float(scale)}D"
            for j in range(len(rows[0]["centroid"]))
        )
        cents = assigned.groupBy("cell").agg(
            F.expr(f"array({terms})").alias("centroid")
        )
        rows = sorted(cents.collect(), key=lambda r: r["cell"])
    return {int(r["cell"]): list(r["centroid"]) for r in rows}


@pytest.mark.parametrize("k", [3, 8, 20])
@pytest.mark.parametrize("parts", [1, 7])
def test_kmeans_fit_exact_kernel_matches_sql_reference(
    spark, corpus, k, parts
):
    """The Arrow-kernel Lloyd step (numpy assignment + int64 fixed-point
    partials + treeReduce + driver descale) must give exactly the
    centroids of the SQL-aggregate loop it replaced, at k on both sides
    of _KERNEL_MIN_K and for any partitioning of the input."""
    from pyetl_spark.operators.ivf import KMEANS_SCALE, kmeans_fit_exact

    split = (
        corpus.coalesce(1)
        if parts == 1
        else corpus.repartitionByRange(parts, "vec_id")
    )
    want = _kmeans_fit_exact_sql_reference(split, k, 2, KMEANS_SCALE)
    got = {
        r["cell"]: list(r["centroid"])
        for r in kmeans_fit_exact(split, k=k, iters=2).collect()
    }
    assert sorted(got) == sorted(want)
    for cell, cent in want.items():
        assert [x.hex() for x in got[cell]] == [x.hex() for x in cent]


def test_kmeans_fit_exact_job_count(spark):
    """Seeding is one aggregate collect (two jobs under AQE) and each
    Lloyd iteration exactly one job (the Arrow stage + treeReduce)."""
    from pyetl_spark.operators.ivf import kmeans_fit_exact

    sf001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    e = load_tables(spark, sf001).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    sc = spark.sparkContext
    iters = 2
    sc.setJobGroup("kmeans_fit_exact_jobs", "job-count pin")
    try:
        kmeans_fit_exact(v, k=8, iters=iters)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("kmeans_fit_exact_jobs")
    assert 0 < len(jobs) <= 2 + iters


def test_kmeans_fit_exact_empty_corpus_raises(spark):
    from pyetl_spark.operators.ivf import kmeans_fit_exact

    empty = spark.createDataFrame([], "vec_id long, e array<double>")
    with pytest.raises(ValueError, match="centroids DataFrame is empty"):
        kmeans_fit_exact(empty, k=4, iters=1)
