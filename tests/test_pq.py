"""Product quantization: codebook shape, training progress,
reconstruction, ADC recall vs exact L2, determinism."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyetl_spark.operators.ivf import kmeans_fit_exact
from pyetl_spark.operators.pq import (
    PQ_SCALE,
    adc_topk,
    pq_encode,
    pq_fit_exact,
    reconstruction_mse,
    split_subvectors,
)
from pyetl_spark.tables import load_tables
from tests.conftest import SF_ORACLE

M, K, DIM = 4, 8, 16


def _clustered(spark, n_per=60, seed_centers=None):
    """Deterministic clustered data: 4 well-separated centers + small
    trig noise."""
    centers = seed_centers or [
        [5.0 * ((c >> b) & 1) for b in range(DIM)] for c in (3, 12, 48, 33)
    ]
    rows = []
    i = 0
    for c in centers:
        for j in range(n_per):
            v = [
                c[d] + 0.1 * math.cos(0.7 * (i + 1) * (d + 1))
                for d in range(DIM)
            ]
            rows.append((i, v))
            i += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_split_subvectors_roundtrip(spark):
    df = spark.createDataFrame(
        [(0, [float(x) for x in range(DIM)])], ["vec_id", "embedding"]
    )
    parts = (
        split_subvectors(df, "vec_id", "embedding", M, DIM)
        .orderBy("sub")
        .collect()
    )
    assert [r["sub"] for r in parts] == list(range(M))
    flat = [x for r in parts for x in r["v"]]
    assert flat == [float(x) for x in range(DIM)]


def test_codebook_shape_and_training_reduces_mse(spark):
    df = _clustered(spark)
    cb1 = pq_fit_exact(df, m=M, k=K, dim=DIM, iters=1)
    cb3 = pq_fit_exact(df, m=M, k=K, dim=DIM, iters=3)
    rows = cb3.collect()
    assert {r["sub"] for r in rows} == set(range(M))
    assert all(len(r["centroid"]) == DIM // M for r in rows)
    per_sub = {}
    for r in rows:
        per_sub.setdefault(r["sub"], set()).add(r["cell"])
    for s, cells in per_sub.items():
        assert cells == set(range(len(cells)))
        assert 1 <= len(cells) <= K
    mse1 = reconstruction_mse(df, cb1, m=M, dim=DIM)
    mse3 = reconstruction_mse(df, cb3, m=M, dim=DIM)
    assert mse3 <= mse1 + 1e-9


def test_adc_recall_on_clustered_data(spark):
    """Probes are corpus points: ADC top-1 must land in the probe's own
    cluster, and recall@5 vs exact L2 must be high on separated data."""
    df = _clustered(spark)
    cb = pq_fit_exact(df, m=M, k=K, dim=DIM, iters=3)
    codes = pq_encode(df, cb, m=M, dim=DIM)
    probes = df.filter(F.col("vec_id").isin([0, 60, 120, 180])).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = adc_topk(probes, codes, cb, m=M, dim=DIM, topk=5).collect()
    data = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    hits = total = 0
    for pid in (0, 60, 120, 180):
        q = data[pid]
        exact = sorted(data, key=lambda i: float(np.sum((data[i] - q) ** 2)))[:5]
        approx = [r["id"] for r in got if r["probe_id"] == pid]
        assert len(approx) == 5
        # same cluster: clusters are 60 ids wide
        assert all(abs(a - pid) < 60 for a in approx)
        hits += len(set(exact) & set(approx))
        total += 5
    assert hits / total >= 0.6, hits / total


def test_deterministic(spark):
    df = _clustered(spark, n_per=30)
    c1 = sorted(map(tuple, pq_encode(df, pq_fit_exact(df, m=M, k=K, dim=DIM), m=M, dim=DIM).collect()))
    c2 = sorted(map(tuple, pq_encode(df, pq_fit_exact(df, m=M, k=K, dim=DIM), m=M, dim=DIM).collect()))
    assert c1 == c2


def test_fixture_embeddings_compress(spark):
    emb = load_tables(spark, SF_ORACLE).embeddings
    cb = pq_fit_exact(emb, m=8, k=16, dim=64, iters=2)
    codes = pq_encode(emb, cb, m=8, dim=64)
    n = emb.count()
    assert codes.count() == n * 8
    assert codes.agg(F.max("code")).collect()[0][0] < 16


def test_ivfpq_recall_and_cell_pruning_on_clustered_data(spark):
    """IVF-PQ (operators/ivfpq.py, r12): coarse cells + residual-PQ ADC.
    On well-separated clusters with nprobe=1, every neighbor must come
    from the probe's OWN cluster (the inverted file actually prunes),
    and recall@5 vs exact L2 must match the plain-PQ bar — residual
    quantization should not LOSE accuracy on centered data."""
    from pyspark.sql import functions as F

    from pyetl_spark.operators.ivf import ivf_assign
    from pyetl_spark.operators.ivfpq import ivfpq_residuals, ivfpq_topk

    df = _clustered(spark)
    v = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = kmeans_fit_exact(v, k=4, iters=3)
    res = ivfpq_residuals(ivf_assign(v, cents), cents)
    cb = pq_fit_exact(res, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=3)
    codes = pq_encode(
        res, cb, id_col="vec_id", vec_col="r", m=M, dim=DIM
    ).join(res.select(F.col("vec_id").alias("id"), "cell"), "id")
    probes = v.filter(F.col("vec_id").isin([0, 60, 120, 180])).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    got = ivfpq_topk(
        probes,
        codes,
        cb,
        cents,
        m=M,
        dim=DIM,
        topk=5,
        nprobe=1,
        exclude_self=True,
    ).collect()
    data = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    hits = total = 0
    for pid in (0, 60, 120, 180):
        q = data[pid]
        exact = sorted(
            (i for i in data if i != pid),
            key=lambda i: float(np.sum((data[i] - q) ** 2)),
        )[:5]
        approx = [r["id"] for r in got if r["probe_id"] == pid]
        assert len(approx) == 5
        # nprobe=1 on separated clusters: strictly the probe's cluster
        # (clusters are the contiguous id blocks [0,60) [60,120) ... —
        # same-block, NOT |a-pid|<60, which for pid=60+ would admit most
        # of the NEIGHBORING block and miss a cell-join leak)
        assert all(a // 60 == pid // 60 for a in approx), (pid, approx)
        hits += len(set(exact) & set(approx))
        total += 5
    assert hits / total >= 0.6, hits / total


def test_ivfpq_index_delta_closes_daily_ingest_loop(spark, tmp_path):
    """Three-day persisted-index lifecycle for IVF-PQ (r13, VERDICT r12
    item 5 — the ANN twin of the MinHash lifecycle test): day-1 builds
    and persists the three artifacts; day-2 vectors are appended via
    ivfpq_index_delta (assign-to-existing + encode-with-existing, no
    retrain); day-3 probes AT the day-2 vectors must then retrieve
    them from the mixed-file index. Without the append, a day-2 vector
    is invisible to every future search — the silent-growth failure
    the delta closes. Also pins that the stamped (m, dim, k) metadata
    survives the mixed-file parquet index and that a mismatched append
    fails fast."""
    import os

    from pyetl_spark.operators.ivf import ivf_assign
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_index_delta,
        ivfpq_residuals,
        ivfpq_topk,
    )

    df = _clustered(spark)
    v = df.select("vec_id", F.col("embedding").alias("e"))
    # day 1: clusters 0-2 (ids < 180); day 2: cluster 3 (ids >= 180)
    day1 = v.filter(F.col("vec_id") < 180)
    day2 = v.filter(F.col("vec_id") >= 180)

    cents = kmeans_fit_exact(day1, k=3, iters=3)
    res1 = ivfpq_residuals(ivf_assign(day1, cents), cents)
    cb = pq_fit_exact(res1, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=3)
    codes1 = ivfpq_encode(res1, cb, m=M, dim=DIM, k=K)
    base = str(tmp_path / "ivfpq_lifecycle")
    cents.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(base, "codebook"))
    codes_path = os.path.join(base, "codes")
    codes1.write.mode("overwrite").parquet(codes_path)

    # day 2: append the delta to the persisted codes table
    cents_idx = spark.read.parquet(os.path.join(base, "centroids"))
    cb_idx = spark.read.parquet(os.path.join(base, "codebook"))
    codes_idx = spark.read.parquet(codes_path)
    # the stamp survived the parquet round-trip
    meta = codes_idx.schema["code"].metadata
    assert (meta["ivfpq.m"], meta["ivfpq.dim"], meta["ivfpq.k"]) == (
        M, DIM, K,
    )
    delta = ivfpq_index_delta(
        day2, cents_idx, cb_idx, m=M, dim=DIM, k=K, codes=codes_idx
    )
    # the DELTA ITSELF carries the stamp (a union/append masks a missing
    # one: the reader samples whichever file footer it lists first)
    dmeta = delta.schema["code"].metadata
    assert (dmeta["ivfpq.m"], dmeta["ivfpq.dim"], dmeta["ivfpq.k"]) == (
        M, DIM, K,
    )
    assert delta.count() == 60 * M  # m code rows per day-2 vector
    delta.write.mode("append").parquet(codes_path)

    # day 3: probes AT day-2 vectors against the mixed-file index —
    # WITH the append their cluster-mates are retrievable
    codes2 = spark.read.parquet(codes_path)
    assert codes2.count() == 240 * M
    # stamp still present on the mixed index
    assert codes2.schema["code"].metadata["ivfpq.k"] == K
    probes = day2.filter(F.col("vec_id").isin([180, 200])).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    got = ivfpq_topk(
        probes, codes2, cb_idx, cents_idx, m=M, dim=DIM, topk=5,
        nprobe=1, exclude_self=True,
    ).collect()
    for pid in (180, 200):
        approx = [r["id"] for r in got if r["probe_id"] == pid]
        assert len(approx) == 5
        # all retrieved neighbors are day-2 vectors (the appended
        # cluster) — impossible without the delta append
        assert all(a >= 180 for a in approx), (pid, approx)

    # WITHOUT the append (day-1 codes only), the day-2 probe finds only
    # wrong-cluster candidates or nothing in its probed cell
    got_stale = ivfpq_topk(
        probes, codes_idx, cb_idx, cents_idx, m=M, dim=DIM, topk=5,
        nprobe=1, exclude_self=True,
    ).collect()
    assert all(r["id"] < 180 for r in got_stale)

    # mismatched append params fail fast against the stamped index
    with pytest.raises(ValueError, match="does not match the index"):
        ivfpq_index_delta(
            day2, cents_idx, cb_idx, m=M, dim=DIM, k=K + 8,
            codes=codes_idx,
        )


def test_ivfpq_batch_mse_drift_signal(spark):
    """ivfpq_batch_mse is the retrain trigger for append-only
    maintenance: a batch drawn from the trained distribution scores
    near the build-time MSE, while a shifted batch (vectors far from
    every trained centroid/codeword) scores decisively higher — the
    documented >2x rebuild signal actually fires on a real shift."""
    from pyetl_spark.operators.ivfpq import (
        ivfpq_batch_mse,
        ivfpq_residuals,
    )
    from pyetl_spark.operators.ivf import ivf_assign

    df = _clustered(spark)
    v = df.select("vec_id", F.col("embedding").alias("e"))
    cents = kmeans_fit_exact(v, k=4, iters=3)
    res = ivfpq_residuals(ivf_assign(v, cents), cents)
    cb = pq_fit_exact(res, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=3)
    build_mse = ivfpq_batch_mse(v, cents, cb, m=M, dim=DIM)

    # in-distribution batch: same generator, fresh ids
    indist = spark.createDataFrame(
        [(1000 + i, [5.0 * ((3 >> b) & 1) + 0.1 * math.sin(0.3 * i * (b + 1))
                     for b in range(DIM)]) for i in range(20)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").alias("e"))
    # shifted batch: far outside every trained cluster
    shifted = spark.createDataFrame(
        [(2000 + i, [25.0 + float((i * 7 + b * 3) % 11)
                     for b in range(DIM)]) for i in range(20)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").alias("e"))

    mse_in = ivfpq_batch_mse(indist, cents, cb, m=M, dim=DIM)
    mse_shift = ivfpq_batch_mse(shifted, cents, cb, m=M, dim=DIM)
    assert mse_in < 2.0 * max(build_mse, 1e-9)
    assert mse_shift > 2.0 * max(build_mse, 1e-9)
    assert mse_shift > 5.0 * max(mse_in, 1e-9)


def test_ivfpq_topk_probe_side_stamp_mismatch_raises(spark):
    """Search-side fail-fast (r13, mirroring the MinHash probe-side
    check): a search whose (m, dim) disagree with the stamped codes
    table splits probe residuals on the wrong subvector boundaries and
    returns confidently wrong neighbors — it must raise instead.
    Unstamped codes (projected frame) stay accepted, and k is not
    checked (not a search parameter)."""
    from pyetl_spark.operators.ivf import ivf_assign
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_residuals,
        ivfpq_topk,
    )

    df = _clustered(spark, n_per=30)
    v = df.select("vec_id", F.col("embedding").alias("e"))
    cents = kmeans_fit_exact(v, k=3, iters=2)
    res = ivfpq_residuals(ivf_assign(v, cents), cents)
    cb = pq_fit_exact(res, id_col="vec_id", vec_col="r", m=M, k=K,
                      dim=DIM, iters=2)
    codes = ivfpq_encode(res, cb, m=M, dim=DIM, k=K)
    probes = v.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    with pytest.raises(ValueError, match="does not match the index"):
        ivfpq_topk(probes, codes, cb, cents, m=M * 2, dim=DIM, topk=3)
    # matching params search fine; a projected (stamp-stripped) frame
    # is uncheckable and stays accepted — all-keys-or-nothing
    assert (
        ivfpq_topk(probes, codes, cb, cents, m=M, dim=DIM, topk=3).count()
        == 6
    )
    stripped = codes.select(
        "id", "cell", "sub", (F.col("code") + 0).alias("code")
    )
    assert (
        ivfpq_topk(
            probes, stripped, cb, cents, m=M, dim=DIM, topk=3
        ).count()
        == 6
    )


def test_check_stamp_compare_keys_subset(spark):
    """stamps.check_stamp's compare_keys contract (r14, the r13-ADVICE
    delegation ivfpq_topk rides): presence is judged on the FULL stamp
    key set (all-or-nothing), the comparison on the subset — so a
    search-side check can validate (m, dim) while ignoring k, and a
    PARTIAL stamp stays uncheckable even when a compared key is
    present and wrong."""
    from pyetl_spark.operators.stamps import check_stamp

    keys = ("ivfpq.m", "ivfpq.dim", "ivfpq.k")
    full = spark.range(1).select(F.col("id").alias("code")).withMetadata(
        "code", {"ivfpq.m": 8, "ivfpq.dim": 64, "ivfpq.k": 16}
    )
    # subset compare ignores the non-compared key entirely: (m, dim)
    # match passes regardless of k's stamped value
    check_stamp(full, "code", keys, "(m, dim)", (8, 64), "t",
                "boom", compare_keys=keys[:2])
    with pytest.raises(ValueError, match="does not match the index"):
        check_stamp(full, "code", keys, "(m, dim)", (8, 128), "t",
                    "boom", compare_keys=keys[:2])
    # default compare_keys = the full stamp (pre-r14 behavior intact)
    with pytest.raises(ValueError, match="does not match the index"):
        check_stamp(full, "code", keys, "(m, dim, k)", (8, 64, 32), "t",
                    "boom")
    # PARTIAL stamp (k missing): uncheckable by the all-or-nothing
    # presence rule, even though the compared dim value disagrees
    partial = spark.range(1).select(
        F.col("id").alias("code")
    ).withMetadata("code", {"ivfpq.m": 8, "ivfpq.dim": 9999})
    check_stamp(partial, "code", keys, "(m, dim)", (8, 64), "t",
                "boom", compare_keys=keys[:2])


def _pq_fit_exact_sql_reference(corpus, m, k, dim, iters, scale):
    """The SQL Lloyd loop ``pq_fit_exact`` ran before it moved onto the
    k-means kernel, kept as the reference the kernel must reproduce bit
    for bit: phash60(sub, id)-spread seeds relabeled by a row_number()
    window, assignment by a broadcast join of every subvector to its
    subspace's codewords and a min-(dist, cell) struct per (id, sub),
    and one groupBy(sub, cell) of exact integer fixed-point sums
    descaled as (Σq / n) / scale. Returns {(sub, cell): centroid}."""
    from pyspark.sql import Window

    from pyetl_spark.operators.pq import _sq_dist
    from pyetl_spark.parity import phash60_seeded

    sub_df = split_subvectors(corpus, "vec_id", "embedding", m, dim)
    h = phash60_seeded(F.col("sub"), F.col("id"))
    best_seed = F.min(
        F.struct(h.alias("h"), F.col("id").alias("i"), F.col("v").alias("v"))
    )
    per_bucket = (
        sub_df.groupBy("sub", F.pmod(h, F.lit(k)).alias("bucket"))
        .agg(best_seed.alias("b"))
        .select("sub", "bucket", F.col("b.v").alias("centroid"))
    )
    w = Window.partitionBy("sub").orderBy("bucket")
    codebook = per_bucket.select(
        "sub", (F.row_number().over(w) - 1).alias("cell"), "centroid"
    )
    terms = ", ".join(
        f"(cast(sum(cast(signum(v[{j}]) * "
        f"floor(abs(v[{j}]) * {float(scale)}D + 0.5D) as bigint))"
        f" as double) / cast(count(1) as double)) / {float(scale)}D"
        for j in range(dim // m)
    )
    for _ in range(iters):
        paired = sub_df.join(F.broadcast(codebook), "sub")
        d = _sq_dist(F.col("v"), F.col("centroid"))
        best = F.min(F.struct(d.alias("d"), F.col("cell").alias("c")))
        assigned = paired.groupBy("id", "sub").agg(
            F.first("v").alias("v"), best.alias("b")
        )
        codebook = (
            assigned.select("sub", F.col("b.c").alias("cell"), "v")
            .groupBy("sub", "cell")
            .agg(F.expr(f"array({terms})").alias("centroid"))
        )
        codebook = corpus.sparkSession.createDataFrame(
            codebook.collect(), codebook.schema
        )
    return {
        (r["sub"], r["cell"]): list(r["centroid"]) for r in codebook.collect()
    }


@pytest.mark.parametrize("n_vecs", [500, 12])
@pytest.mark.parametrize("parts", [1, 7])
def test_pq_fit_exact_kernel_matches_sql_reference(spark, n_vecs, parts):
    """pq_fit_exact on the shared Lloyd kernel (m subspaces per Arrow
    stage) must give exactly the codebooks of the SQL loop it replaced,
    for m=8, k=16 and any partitioning — including 12 vectors, where
    some subspace has an empty seed bucket and fewer than k codewords."""
    emb = load_tables(spark, SF_ORACLE).embeddings.filter(
        F.col("vec_id") < n_vecs
    )
    split = (
        emb.coalesce(1)
        if parts == 1
        else emb.repartitionByRange(parts, "vec_id")
    )
    want = _pq_fit_exact_sql_reference(split, 8, 16, 64, 2, PQ_SCALE)
    if n_vecs == 12:
        assert min(
            sum(1 for s, _ in want if s == sub) for sub in range(8)
        ) < 16
    got = {
        (r["sub"], r["cell"]): list(r["centroid"])
        for r in pq_fit_exact(split, m=8, k=16, dim=64, iters=2).collect()
    }
    assert sorted(got) == sorted(want)
    for key, cent in want.items():
        assert [x.hex() for x in got[key]] == [x.hex() for x in cent]


def test_pq_fit_exact_jobs_and_encode_without_shuffle(spark):
    """Seeding is one aggregate collect (two jobs under AQE) and each
    Lloyd iteration one job; pq_encode is a narrow projection over the
    collected codebook — its plan has no exchange."""
    import os

    sf001 = os.path.join(os.path.dirname(SF_ORACLE), "sf0.01")
    emb = load_tables(spark, sf001).embeddings
    sc = spark.sparkContext
    iters = 2
    sc.setJobGroup("pq_fit_exact_jobs", "job-count pin")
    try:
        cb = pq_fit_exact(emb, m=8, k=16, dim=64, iters=iters)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("pq_fit_exact_jobs")
    assert 0 < len(jobs) <= 2 + iters
    codes = pq_encode(emb, cb, m=8, dim=64)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert codes.count() == 8 * emb.count()
