"""IVF ANN + distributed k-means tests (operators/ivf.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyetl_spark.operators.ivf import (
    KMEANS_SCALE,
    ivf_assign,
    ivf_topk,
    kmeans_fit_exact,
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


def _inertia(corpus, cents) -> float:
    """Sum over vectors of the squared distance to the nearest centroid."""
    import pyetl_spark.operators.ivf as ivf

    return (
        ivf._nearest_cell(corpus.select("e"), cents, "e")
        .agg(F.sum("dist"))
        .collect()[0][0]
    )


def test_kmeans_deterministic_and_converging(spark, corpus):
    c1 = kmeans_fit_exact(corpus, k=4, iters=2)
    c2 = kmeans_fit_exact(corpus, k=4, iters=2)
    # determinism: identical centroids across runs
    r1 = {r["cell"]: r["centroid"] for r in c1.collect()}
    r2 = {r["cell"]: r["centroid"] for r in c2.collect()}
    assert r1 == r2
    # Lloyd iterations do not increase inertia over the seeds
    seeds = kmeans_fit_exact(corpus, k=4, iters=0)
    assert _inertia(corpus, c1) <= _inertia(corpus, seeds) + 1e-9


def test_ivf_assign_partitions_corpus(spark, corpus):
    cents = kmeans_fit_exact(corpus, k=4, iters=2)
    indexed = ivf_assign(corpus, cents)
    assert indexed.count() == corpus.count()
    cells = indexed.select("cell").distinct().count()
    assert 1 < cells <= 4


def test_ivf_topk_recall_and_exact_rerank(spark, corpus):
    cents = kmeans_fit_exact(corpus, k=4, iters=2)
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
    """phash60-spread seeds: deterministic across runs, exactly k
    distinct seed cells, and the resulting inverted file is reasonably
    balanced (skew factor max/avg bounded) on the Gaussian fixture."""
    from pyetl_spark.operators.ivf import cell_size_stats

    s1 = kmeans_fit_exact(corpus, k=6, iters=0).collect()
    s2 = kmeans_fit_exact(corpus, k=6, iters=0).collect()
    assert sorted(r["cell"] for r in s1) == list(range(6))
    seeds = {tuple(r["centroid"]) for r in s1}
    assert len(seeds) == 6  # pairwise distinct
    assert seeds == {tuple(r["centroid"]) for r in s2}

    cents = kmeans_fit_exact(corpus, k=6, iters=2)
    stats = cell_size_stats(ivf_assign(corpus, cents)).collect()[0]
    assert stats["n_cells"] == 6
    assert stats["min_cell"] >= 1
    # Gaussian blob + converged Lloyd → no cell should dominate wildly
    assert stats["skew_factor"] < 3.0, stats


def test_spread_seeding_not_worse_than_lowest_id(spark, corpus):
    """After the same Lloyd iterations, phash60-spread seeding must reach
    inertia no worse than ~10% above seeding with the k lowest-id
    vectors (adjacent-id seeds start collapsed)."""
    import pyetl_spark.operators.ivf as ivf

    spread = kmeans_fit_exact(corpus, k=6, iters=2)
    lowest = [
        {"cell": i, "centroid": r["e"]}
        for i, r in enumerate(corpus.orderBy("vec_id").limit(6).collect())
    ]
    books = [lowest]
    for _ in range(2):
        books = ivf._lloyd_step(corpus.select("e"), books, "e", KMEANS_SCALE)
    i_spread = _inertia(corpus, spread)
    i_naive = _inertia(corpus, books[0])
    assert i_spread <= i_naive * 1.10, (i_spread, i_naive)


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


def _sql_double(v: float) -> str:
    """Exact Spark SQL literal for a double: finite values as
    ``repr(v) + "D"`` (shortest round-trip form, parsed back correctly
    rounded), NaN/±Inf as casts — ``repr`` spells those as identifiers."""
    r = repr(float(v))
    special = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}.get(r)
    return f"CAST('{special}' AS DOUBLE)" if special else r + "D"


def _nearest_structs_expression_reference(books, vec_col):
    """The JVM form ``ivf._nearest_structs`` ran below 17 codewords before
    the numpy kernel took every k, kept as the reference the kernel must
    reproduce bit for bit: per subspace ONE ``F.expr`` whose
    ``aggregate(zip_with(…))`` adds the squared differences in ascending
    dimension order from 0.0, and whose ``array_min`` over
    ``struct(dist, cell)`` breaks ties to the lowest cell."""
    d = books[0][1].shape[1]
    x = "`" + vec_col.replace("`", "``") + "`"
    out = []
    for j, (cells, C) in enumerate(books):
        xs = x if len(books) == 1 else f"slice({x}, {j * d + 1}, {d})"
        cents = ", ".join(
            "array(" + ", ".join(_sql_double(v) for v in c) + ")" for c in C
        )
        ids = ", ".join(str(c) for c in cells)
        out.append(F.expr(
            f"array_min(zip_with(array({cents}), array({ids}), "
            f"(_cv, _cid) -> struct(aggregate(zip_with({xs}, _cv, "
            f"(_x, _y) -> (_x - _y) * (_x - _y)), 0.0D, "
            f"(_acc, _t) -> _acc + _t) AS dist, _cid AS cell)))"
        ))
    return out


def _nearest_bits(df, id_col, structs):
    """{id: ((cell, dist.hex()), …)} — one pair per struct column."""
    rows = df.select(
        id_col, *[s.alias(f"_b{j}") for j, s in enumerate(structs)]
    ).collect()
    return {
        r[id_col]: tuple(
            (r[f"_b{j}"]["cell"], r[f"_b{j}"]["dist"].hex())
            for j in range(len(structs))
        )
        for r in rows
    }


def test_nearest_cell_jvm_and_arrow_paths_bit_identical(spark, corpus):
    """The numpy kernel behind every nearest-centroid assignment must be
    BIT-identical to the JVM expression it replaced (kept above as the
    reference): same ascending-dimension add sequence, and argmin's
    first-minimum tie-break equals the (dist, cell) struct min. Checked
    on exact (cell, dist) bits at k = 8, 16 and 20, and on a PQ codebook
    where each of m = 4 subspaces reads a slice of the vector."""
    import pyetl_spark.operators.ivf as ivf
    from pyetl_spark.operators.pq import pq_fit_exact

    cases = []
    for k in (8, 16, 20):
        rows = sorted(
            ivf.kmeans_fit_exact(corpus, k=k, iters=1).collect(),
            key=lambda r: r["cell"],
        )
        cases.append((k, [ivf._centroid_matrix(rows)]))
    cb = pq_fit_exact(corpus, vec_col="e", m=4, k=8, dim=64, iters=1)
    cb = sorted(cb.collect(), key=lambda r: (r["sub"], r["cell"]))
    cases.append(("pq", [
        ivf._centroid_matrix([r for r in cb if r["sub"] == j])
        for j in range(4)
    ]))
    for case, books in cases:
        ker = ivf._nearest_structs(books, "e")
        ref = _nearest_structs_expression_reference(books, "e")
        assert _nearest_bits(corpus, "vec_id", ker) == _nearest_bits(
            corpus, "vec_id", ref
        ), case


def test_empty_centroids_fail_loudly(spark, corpus):
    """ADVICE r5: an empty centroid table must raise a clear ValueError,
    not crash deep inside F.lit([]) / np.stack with an opaque error."""
    empty = spark.createDataFrame([], "cell int, centroid array<double>")
    with pytest.raises(ValueError, match="centroids DataFrame is empty"):
        ivf_assign(corpus, empty)


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup() or [])
    out = fn()
    return out, len(st.getJobIdsForGroup() or []) - before


def test_localize_rows_exact_roundtrip_and_no_jobs(spark):
    """localize_rows rebuilds bounded index state as an Arrow-built
    LocalRelation: values/types must round-trip EXACTLY — -0.0,
    subnormals, scientific-notation magnitudes, NaN/±Inf inside arrays
    (the pandas route would turn that NaN into NULL) — and collecting the
    result must schedule no Spark job (the point vs a parallelized
    createDataFrame), with the session's Arrow conf on or off."""
    from pyspark.sql.types import StructType

    from pyetl_spark.operators.ivf import localize_rows

    schema = StructType.fromDDL("cell int, centroid array<double>")
    vals = [
        (0, [0.1, -0.0, 1e-17, 123456.789, 5e-324]),
        (1, [float.fromhex("0x1.fffffffffffffp+1"), -2.5e300, 0.0]),
        (2, None),
        (3, [float("nan"), float("inf"), float("-inf"), -0.0]),
    ]
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            df = localize_rows(spark, vals, schema)
            assert df.schema == schema
            assert df._jdf.queryExecution().optimizedPlan().toString() \
                .startswith("LocalRelation")
            got, jobs = _jobs_run(spark, df.collect)
            assert jobs == 0, "collect over a LocalRelation ran a job"
            got = sorted(got, key=lambda r: r["cell"])
            for (cell, cent), row in zip(vals, got):
                assert row["cell"] == cell
                if cent is None:
                    assert row["centroid"] is None
                else:
                    # exact bit identity, not approx
                    assert [x.hex() for x in row["centroid"]] == [
                        x.hex() for x in cent
                    ]
    finally:
        spark.conf.set(conf, old)


def test_localize_rows_empty_and_string_roundtrip(spark):
    from pyspark.sql.types import StructType

    from pyetl_spark.operators.ivf import localize_rows

    empty = localize_rows(spark, [], StructType.fromDDL("cell int"))
    assert empty.schema == StructType.fromDDL("cell int")
    assert _jobs_run(spark, empty.collect) == ([], 0)
    schema = StructType.fromDDL("x string, n bigint")
    got = localize_rows(spark, [("s", 1), (None, None)], schema).collect()
    assert [tuple(r) for r in got] == [("s", 1), (None, None)]


def test_localize_rows_large_state_builds_fast_without_jobs(spark):
    """k=16,384 centroids × 64 dims (the state the old SQL VALUES literal
    took ~90 s to build) localize in well under 5 s, as a LocalRelation
    whose collect runs no job."""
    import time

    import numpy as np
    from pyspark.sql.types import StructType

    from pyetl_spark.operators.ivf import localize_rows

    rng = np.random.default_rng(0)
    rows = [(i, c.tolist()) for i, c in enumerate(rng.random((16_384, 64)))]
    schema = StructType.fromDDL("cell int, centroid array<double>")
    t0 = time.perf_counter()
    df = localize_rows(spark, rows, schema)
    assert time.perf_counter() - t0 < 5.0
    assert df._jdf.queryExecution().optimizedPlan().toString() \
        .startswith("LocalRelation")
    got, jobs = _jobs_run(spark, df.collect)
    assert jobs == 0 and len(got) == 16_384
    assert got[16_383]["centroid"] == rows[16_383][1]


def test_localize_rows_caps_driver_state(spark, monkeypatch):
    """Past MAX_LOCAL_CELLS (rows × their array cells) localize_rows
    raises before building anything, instead of growing driver state
    with the corpus."""
    import pyetl_spark.operators.ivf as ivf
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("cell int, centroid array<double>")
    rows = [(i, [0.0] * 4) for i in range(3)]  # 3 × (1 + 4) = 15 cells
    monkeypatch.setattr(ivf, "MAX_LOCAL_CELLS", 15)
    assert ivf.localize_rows(spark, rows, schema).count() == 3
    monkeypatch.setattr(ivf, "MAX_LOCAL_CELLS", 14)
    with pytest.raises(ValueError, match="MAX_LOCAL_CELLS"):
        ivf.localize_rows(spark, rows, schema)


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
        (best,) = _nearest_structs_expression_reference(
            [ivf._centroid_matrix(rows)], "e"
        )
        assigned = corpus.select("e", best["cell"].alias("cell"))
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
    centroids of the SQL-aggregate loop it replaced, at k = 3, 8 and 20
    and for any partitioning of the input."""
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


def test_lloyd_step_raises_on_int64_overflow(spark):
    """The fixed-point kernel must not wrap silently where the ANSI SQL
    form it replaced raised: a coordinate with |x|·scale ≥ 2^63 has no
    int64 value (raised inside the Arrow stage), and three 4e14
    coordinates in one cell sum to 1.2e19 fixed-point units, past int64
    (raised on the driver before any mean is formed)."""
    from pyspark.errors import PythonException

    schema = "vec_id long, e array<double>"
    big = spark.createDataFrame([(0, [1e15, 0.0])], schema)
    with pytest.raises(PythonException, match="ValueError: .*fixed-point"):
        kmeans_fit_exact(big, k=1, iters=1)
    wrap = spark.createDataFrame([(i, [4e14, 0.0]) for i in range(3)], schema)
    with pytest.raises(ValueError, match="could overflow int64"):
        kmeans_fit_exact(wrap, k=1, iters=1)


@pytest.mark.parametrize("k", [8, 20])
def test_ivf_assign_join_on_cell_assigns_once(spark, corpus, k):
    """ivf_assign's ``cell`` is non-nullable, so joining it on ``cell``
    infers no isnotnull filter: that filter was pushed below the
    projection and evaluated the whole nearest-cell assignment a second
    time — a second ArrowEvalPython (numpy kernel run) in the plan."""
    cents = kmeans_fit_exact(corpus, k=k, iters=1)
    joined = ivf_assign(corpus, cents).join(cents, "cell")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
