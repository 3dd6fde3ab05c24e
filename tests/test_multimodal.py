"""Multimodal plumbing tests (north-star extension): the decode step is a
deterministic stub, but schema, Arrow batch shape, partitioning, and
determinism of the Spark-side pipeline are real."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, DoubleType

from pyetl_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_fake_media,
    extract_features,
    resize_images,
    sample_frames,
)
from pyetl_spark.tables import load_tables
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def media(spark):
    docs = load_tables(spark, SF_ORACLE).documents.limit(50)
    return attach_fake_media(docs).cache()


def test_media_schema_is_binary_plus_typed_meta(media):
    schema = dict(media.dtypes)
    assert schema["payload"] == "binary"
    assert schema["meta"].startswith("struct<")
    assert isinstance(media.schema["payload"].dataType, BinaryType)


def test_feature_extraction_schema_and_determinism(spark, media):
    f1 = extract_features(media)
    assert isinstance(f1.schema["features"].dataType, ArrayType)
    assert isinstance(f1.schema["features"].dataType.elementType, DoubleType)
    rows = f1.collect()
    assert all(len(r["features"]) == FEATURE_DIM for r in rows)
    # deterministic stub: second run identical
    f2 = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    for r in rows:
        assert f2[r["media_id"]] == r["features"]


def test_decode_stub_raises_without_fake_flag(spark, media):
    with pytest.raises(Exception) as exc:
        extract_features(media, allow_fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_resize_updates_meta_and_payload(spark, media):
    out = resize_images(media, out_w=4, out_h=4)
    rows = out.collect()
    assert all(r["meta"]["width"] == 4 for r in rows)
    # 4x4 quantized uint8 = 16 bytes (r8 portable contract — float64
    # byte serialization was engine-internal and oracle-opaque)
    assert all(len(bytes(r["payload"])) == 16 for r in rows)


def test_frame_sampling_explodes_rows(spark, media):
    n_media = media.count()
    frames = sample_frames(media, every_nth=2)
    # 8-row pseudo-image, every 2nd → 4 frames per media
    assert frames.count() == n_media * 4
    per = frames.groupBy("media_id").agg(F.count("*").alias("n"))
    assert per.filter(F.col("n") != 4).count() == 0


def test_feature_pipeline_composes_with_knn(spark, media):
    """Features flow into the similarity-search operator — multimodal +
    ANN end to end."""
    from pyetl_spark.operators.knn import cosine_topk_bruteforce

    feats = extract_features(media)
    probes = feats.filter(F.col("media_id") < 3).select(
        F.col("media_id").alias("probe_id"),
        F.col("features").alias("probe_vec"),
    )
    corpus = feats.select(
        F.col("media_id").alias("cand_id"),
        F.col("features").alias("cand_vec"),
    )
    top = cosine_topk_bruteforce(probes, corpus, k=3)
    assert top.groupBy("probe_id").count().filter("count != 3").count() == 0


def test_cdc_chunks_cover_payload_exactly(spark, media):
    """Chunk (offset, n_bytes) runs tile each payload with no gaps and
    chunk sizes respect the [min, max] clamp (tail chunk may be short)."""
    from pyetl_spark.operators.multimodal import chunk_payloads

    chunks = chunk_payloads(media).collect()
    sizes = {r["media_id"]: 0 for r in chunks}
    by_media: dict[int, list] = {}
    for r in chunks:
        sizes[r["media_id"]] += r["n_bytes"]
        by_media.setdefault(r["media_id"], []).append(r)
    payloads = {
        r["media_id"]: len(bytes(r["payload"])) for r in media.collect()
    }
    assert sizes == payloads
    for rows in by_media.values():
        rows.sort(key=lambda r: r["chunk_idx"])
        pos = 0
        for r in rows:
            assert r["offset"] == pos
            pos += r["n_bytes"]
            assert r["n_bytes"] <= 256
        for r in rows[:-1]:
            assert r["n_bytes"] >= 16


def test_cdc_boundaries_shift_resistant():
    """THE content-defined property: prepending bytes re-aligns — the
    chunk set of the shifted payload shares most chunk hashes with the
    original (a fixed-size chunker would share none)."""
    import hashlib as hl
    import random

    from pyetl_spark.operators.multimodal import cdc_boundaries

    rng = random.Random(11)
    data = bytes(rng.randrange(256) for _ in range(4000))
    shifted = b"XYZ" + data

    def chunk_hashes(d):
        out, start = set(), 0
        for end in cdc_boundaries(d):
            out.add(hl.sha256(d[start:end]).hexdigest())
            start = end
        return out

    a, b = chunk_hashes(data), chunk_hashes(shifted)
    shared = len(a & b) / len(a)
    assert shared > 0.8, f"only {shared:.0%} of chunks survived the shift"


def test_decode_dispatcher_falls_back_without_pil():
    """No imaging lib in this container → dispatcher must hit the
    deterministic stub and match it bit-for-bit."""
    import numpy as np

    from pyetl_spark.operators.multimodal import (
        _decode_image,
        _decode_image_stub,
    )

    payload = b"some fixture bytes"
    np.testing.assert_array_equal(
        _decode_image(payload, True), _decode_image_stub(payload, True)
    )


def test_decode_dispatcher_uses_real_lib_when_present(monkeypatch):
    """Inject a fake PIL: the dispatcher must take the real-decoder branch
    (grayscale float64 in [0,1]) and never touch the stub."""
    import sys
    import types

    import numpy as np

    class _FakeImg:
        def convert(self, mode):
            assert mode == "L"
            return np.arange(16, dtype=np.uint8).reshape(4, 4)

    fake_pil = types.ModuleType("PIL")
    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda buf: _FakeImg()
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)

    from pyetl_spark.operators import multimodal
    from pyetl_spark.operators.multimodal import _decode_image

    # forget a lookup an earlier test cached
    monkeypatch.setattr(multimodal, "_PIL_IMAGE", None)

    out = _decode_image(b"anything", allow_fake=False)  # stub would raise
    assert out.dtype == np.float64
    assert out.shape == (4, 4)
    assert out.max() <= 1.0 and out.min() >= 0.0


def test_decode_dispatcher_looks_up_pil_once(monkeypatch):
    """Python caches no FAILED import, so a per-payload ``from PIL import
    Image`` searched sys.path again for every payload when PIL is
    absent. 100 decodes must try the import at most once."""
    import sys

    from pyetl_spark.operators import multimodal

    class _Probe:
        calls = 0

        def find_spec(self, name, path=None, target=None):
            if name == "PIL":
                _Probe.calls += 1
            return None

    monkeypatch.setattr(sys, "meta_path", [_Probe(), *sys.meta_path])
    monkeypatch.setattr(multimodal, "_PIL_IMAGE", None)
    if "PIL" not in sys.modules:  # absent PIL: the case that re-searched
        for i in range(100):
            multimodal._decode_image(b"payload %d" % i, True)
        assert _Probe.calls <= 1


def test_hamming_band_pairs_complete_and_tight(spark):
    """The banded join must find EVERY pair with hamming <= 3 (pigeonhole
    over 4x16-bit bands) and never emit pairs above the threshold."""
    from pyetl_spark.operators.simhash import hamming_band_pairs

    base = 0x0123456789ABCDEF - (1 << 64) if 0x0123456789ABCDEF >= 1 << 63 \
        else 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0b1),            # hamming 1
        (3, base ^ 0b111),          # hamming 3 from id=1
        (4, base ^ (1 << 5) ^ (1 << 21) ^ (1 << 37) ^ (1 << 53)),
        # ^ hamming 4, one flip in EVERY band — must NOT match id=1
        (5, 42),                    # unrelated
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in hamming_band_pairs(df, "id", "h", max_hamming=3).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert all(4 not in p and 5 not in p for p in pairs)


def test_ahash_dedup_clusters_reingested_assets(spark):
    """multimodal_ahash_dedup: every planted re-ingest (same bytes, new
    id) clusters with its original under the original's keeper id."""
    from pyetl_spark import registry

    registry.load_all()
    rows = registry.QUERIES["multimodal_ahash_dedup"](
        spark, SF_ORACLE
    ).collect()
    by_id = {r["media_id"]: r for r in rows}
    planted = [r for r in rows if r["media_id"] >= 1_000_000]
    assert planted, "expected planted re-ingests"
    for r in planted:
        orig = by_id[r["media_id"] - 1_000_000]
        assert r["keeper"] == orig["keeper"] == orig["media_id"]
        assert r["cluster_size"] >= 2


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        # sf1 too: the canon sweeps gate these keys there, and a fixture
        # regen that breaks the property would otherwise first surface
        # as an unexplained sweep red instead of this pin
        "/root/repo/testdata_sf1",
    ],
)
def test_ahash_pairs_only_between_identical_texts(spark, sf_dir):
    """The property multimodal_ahash_dedup's oracle rests on: under the
    avalanche stub decode, the hamming<=3 banded pair join finds pairs
    ONLY between byte-identical payloads (= identical texts here), so
    the exact expected clusters are the identical-text groups."""
    import os

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    from pyetl_spark.operators.multimodal import attach_fake_media, media_ahash
    from pyetl_spark.operators.simhash import hamming_band_pairs

    d = load_tables(spark, sf_dir).documents
    base = d.filter(F.col("doc_id") < 2000)
    re_ing = d.filter(F.col("doc_id") < 200).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    aug = base.unionByName(re_ing)
    media = attach_fake_media(aug)
    pairs = hamming_band_pairs(
        media_ahash(media), "media_id", "ahash", max_hamming=3
    )
    texts = aug.select(
        F.col("doc_id").alias("media_id"), F.md5("text").alias("tkey")
    )
    labeled = (
        pairs.join(
            texts.select(
                F.col("media_id").alias("id_a"), F.col("tkey").alias("ta")
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("media_id").alias("id_b"), F.col("tkey").alias("tb")
            ),
            "id_b",
        )
    )
    cross = labeled.filter(F.col("ta") != F.col("tb")).count()
    same = labeled.filter(F.col("ta") == F.col("tb")).count()
    assert cross == 0, f"{cross} cross-text hamming<=3 pairs"
    assert same > 0  # the planted re-ingests must actually pair


def test_multimodal_features_sorted_with_one_python_stage(spark):
    """multimodal_features sorts the documents BEFORE its mapInPandas
    and only sorts within partitions after it: with 8 range partitions
    the collected rows are still in media_id order, and of all the
    stages one call runs (build and collect), exactly one evaluates
    Python — a sort after the Python stage would run it a second time
    in the range sampler."""
    from pyetl_spark import registry

    registry.load_all()
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    graph = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    sc.setJobGroup("multimodal_features_stages", "python-stage pin")
    try:
        rows = registry.QUERIES["multimodal_features"](
            spark, SF_ORACLE
        ).collect()
    finally:
        sc._jsc.clearJobGroup()
        for k, v in old.items():
            spark.conf.set(k, v)
    ids = [r["media_id"] for r in rows]
    assert ids and ids == sorted(ids)
    jvm_sc.listenerBus().waitUntilEmpty()
    store = jvm_sc.statusStore()
    tracker = sc.statusTracker()
    python_stages = [
        s
        for j in tracker.getJobIdsForGroup("multimodal_features_stages")
        for s in tracker.getJobInfo(j).stageIds
        if store.lastStageAttempt(s).status().toString() != "SKIPPED"
        and "MapInPandas"
        in graph.makeDotFile(store.operationGraphForStage(s))
    ]
    assert len(python_stages) == 1
