"""Tests for similarity search + multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from xml_to_parquet_spark.functions import multimodal, similarity


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_dot_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert r.d == 11.0
    assert math.isclose(r.c, 11.0 / (math.sqrt(5) * math.sqrt(25)))


def test_cosine_topk_exact(spark):
    out = similarity.cosine_topk(_vecs(spark), query_ids=[0, 2], k=2)
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    assert got[(0, 1)] == 1  # nearest to e_x is the 0.9/0.1 vector
    assert got[(2, 1)] == 3


def test_cosine_topk_excludes_self_and_respects_k(spark):
    out = similarity.cosine_topk(_vecs(spark), query_ids=[4], k=3).collect()
    assert len(out) == 3
    assert all(r.neighbor_id != 4 for r in out)


def test_lsh_bucket_topk_subset_of_bucket(spark):
    # with 1 plane everything lands in one of two buckets: results must be
    # consistent with exact ranking restricted to the query's bucket
    out = similarity.lsh_bucket_topk(
        _vecs(spark), query_ids=[0], k=4, n_planes=1
    ).collect()
    assert len(out) >= 1
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in out)
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))


def test_ivf_topk_recall_against_brute_force(spark):
    # IVF over the real testdata embeddings: with n_probe cells out of
    # n_centroids, the probed results must (a) be validly ranked, (b) agree
    # with brute force on a majority of neighbors (recall sanity)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    ivf = similarity.ivf_topk(emb, query_ids=qids, k=5, n_centroids=8, n_probe=4)
    brute = similarity.cosine_topk(emb, query_ids=qids, k=5)
    ivf_sets = {}
    for r in ivf.collect():
        assert r.neighbor_id != r.query_id
        ivf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    brute_sets = {}
    for r in brute.collect():
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(ivf_sets[q] & brute_sets[q]) / len(brute_sets[q]) for q in qids
    ]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_topk_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.ivf_topk(emb, query_ids=[0, 5], k=3).collect()
    b = similarity.ivf_topk(emb, query_ids=[0, 5], k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_embedding_neardup_pairs(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(
            _vecs(spark), threshold=0.95
        ).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs
    assert (0, 2) not in pairs


def test_embedding_neardup_tiling_invariant(spark):
    # the tiled all-pairs gemm must find the same pairs for any block count
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    results = [
        sorted(
            (r.id_a, r.id_b)
            for r in similarity.embedding_neardup_pairs(
                emb, threshold=0.45, n_blocks=b
            ).collect()
        )
        for b in (1, 3, 8)
    ]
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0


def test_attach_binary_metadata_and_fake_decode(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "id long, text string"
    )
    with_bin = docs.withColumn(
        "payload", multimodal.text_as_binary(F.col("text"))
    )
    with_meta = multimodal.attach_binary_metadata(
        with_bin, "payload", "image", "raw"
    )
    m = with_meta.select("payload_meta.*").collect()[0]
    assert m.modality == "image" and m.size_bytes == 11
    assert len(m.checksum) == 32

    decoded = multimodal.decode_batch(with_meta).collect()
    assert len(decoded) == 2
    for r in decoded:
        assert 64 <= r.width < 256 and 64 <= r.height < 256
        assert r.format in ("png", "jpeg", "webp")
    # determinism across runs/partitionings
    again = multimodal.decode_batch(with_meta.repartition(2)).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in decoded}


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_stub(b"bytes")


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 10)], "id long, n_frames int")
    idx = [r.frame_idx for r in multimodal.frame_sample_plan(df, 3).collect()]
    assert idx == [0, 3, 6, 9]


def test_frame_sample_entry_prunes_payload_column(spark, sf_dir):
    # the frame plan is metadata-only: the parquet scan must read ONLY
    # (doc_id, n_chars) — a scan that drags the text/payload column
    # into a row-amplifying explode is exactly the 100 TB mistake this
    # entry exists to demonstrate avoiding
    from xml_to_parquet_spark.workload import q_frame_sample

    plan = (
        q_frame_sample(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    read = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert read, plan
    cols = {c.split(":")[0] for c in read.group(1).split(",") if c}
    assert cols == {"doc_id", "n_chars"}, cols


def test_kmeans_assign_quantized_partition_invariant(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.kmeans_assign_quantized(emb, k=4, iterations=2).collect()
    b = similarity.kmeans_assign_quantized(
        emb.repartition(7), k=4, iterations=2
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    cells = {r.cell for r in a}
    assert cells <= set(range(4)) and len(cells) > 1


def test_pq_codes_shape_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.pq_codes(emb, m=4, k=8, dim=64).collect()
    n_vec = emb.count()
    assert len(a) == 4 * n_vec  # one code per (vector, subspace)
    assert {r.sub for r in a} == {0, 1, 2, 3}
    assert all(0 <= r.cell < 8 for r in a)
    b = similarity.pq_codes(emb.repartition(5), m=4, k=8, dim=64).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_codes_iterative_refinement_invariant(spark):
    """iterations > 1 exercises the batched stack→posexplode update job
    (the iterations=1 default skips it): result must stay partition-
    invariant and the refinement must actually move assignments."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.pq_codes(emb, m=4, k=8, dim=64, iterations=2).collect()
    b = similarity.pq_codes(
        emb.repartition(5), m=4, k=8, dim=64, iterations=2
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    one = similarity.pq_codes(emb, m=4, k=8, dim=64, iterations=1).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, one))


def test_kmeans_until_converged_on_separable_clusters(spark):
    # two tight, well-separated clusters: convergence must hit a fixed
    # point well before max_iterations and classify the clusters cleanly
    rows = [(i, [10.0 + 0.01 * i, 10.0]) for i in range(5)]
    rows += [(5 + i, [-10.0 - 0.01 * i, -10.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_assign_quantized(
        df, k=2, until_converged=True, max_iterations=25
    ).collect()
    by_cell: dict[int, set[int]] = {}
    for r in out:
        by_cell.setdefault(r.cell, set()).add(r.vec_id)
    assert sorted(by_cell.values(), key=min) == [
        {0, 1, 2, 3, 4}, {5, 6, 7, 8, 9},
    ]
    # converged result == a long fixed-round run (fixed point reached)
    fixed = similarity.kmeans_assign_quantized(df, k=2, iterations=25).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, fixed))


def test_no_cache_residue_after_curation_operators(spark):
    """VERDICT r2 hygiene item: operators that persist internally must
    unpersist on every exit path — nothing may stay cached on the shared
    session after the caller's action completes."""
    from xml_to_parquet_spark.functions import dedup

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # `<=`, not `==`: the ContextCleaner may asynchronously free
    # localCheckpoint blocks left by EARLIER tests between the baseline
    # capture and a later probe, legitimately dropping the count below
    # baseline. The property under test is only that these operators add
    # NO NEW persistent entries.
    base = n_persistent()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.kmeans_assign_quantized(emb, k=4, iterations=2).count()
    assert n_persistent() <= base
    similarity.pq_codes(emb, m=4, k=8, dim=64).count()
    assert n_persistent() <= base
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(60)
    dedup.ngram_jaccard_via_lsh(docs).count()
    assert n_persistent() <= base
    dedup.fuzzy_pairs_qgram(
        docs.select("doc_id", F.substring("text", 1, 12).alias("t")),
        "t", id_col="doc_id", max_distance=1, num_partitions=4,
    ).count()
    assert n_persistent() <= base


def test_score_documents_partition_and_batch_invariant(spark):
    """Model-scoring plumbing: identical scores regardless of
    partitioning or Arrow batch splits (the property the exact oracle
    also checks on real data)."""
    from xml_to_parquet_spark.functions import inference
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(100)
    a = sorted(map(tuple, inference.score_documents(docs).collect()))
    b = sorted(
        map(tuple, inference.score_documents(docs.repartition(7)).collect())
    )
    assert a == b
    assert all(-8.0 <= r[1] < 8.0 for r in a)
    assert all(r[2] == (r[1] >= 0.0) for r in a)
    accepted = sum(1 for r in a if r[2])
    assert 0 < accepted < len(a)  # threshold splits the corpus


def test_real_model_stub_raises():
    from xml_to_parquet_spark.functions import inference

    with pytest.raises(NotImplementedError):
        inference.real_model_stub(["x"])


def test_lsh_bucket_wrong_dim_fails_loudly(spark):
    df = _vecs(spark)  # 3-dim vectors
    ok = df.select(
        similarity.lsh_bucket(F.col("embedding"), n_planes=2, dim=3)
    ).collect()
    assert len(ok) == 5
    with pytest.raises(Exception, match="lsh_bucket|ASSERT"):
        df.select(
            similarity.lsh_bucket(F.col("embedding"), n_planes=2, dim=4)
        ).collect()


def test_lsh_bucket_null_vector_passes_through(spark):
    """A NULL embedding must yield a NULL bucket, not abort the job — the
    dim-mismatch assert_true only guards actual wrong-length vectors
    (ADVICE r3: size(NULL) is never == dim, so the guard needs an isNull
    arm)."""
    df = _vecs(spark).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    rows = df.select(
        "vec_id",
        similarity.lsh_bucket(F.col("embedding"), n_planes=2, dim=3)
        .alias("b"),
    ).collect()
    by_id = {r["vec_id"]: r["b"] for r in rows}
    assert by_id[0] is None
    assert all(v is not None for k, v in by_id.items() if k != 0)


def test_score_documents_custom_id_col(spark):
    """A non-default id_col keeps its name in the scored output (ADVICE
    r3: the schema was hardcoded to doc_id)."""
    from xml_to_parquet_spark.functions import inference
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(10)
        .withColumnRenamed("doc_id", "item_id")
    )
    out = inference.score_documents(docs, id_col="item_id")
    assert out.columns == ["item_id", "logit", "accept"]
    assert out.count() == 10


def test_soak_rungs_well_formed():
    """Every soak rung must unpack as (dst, replicas, tables, queries)
    (ADVICE r3 flagged a malformed entry class) and name only live
    catalog keys."""
    import importlib.util
    import os

    from xml_to_parquet_spark.workload import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "soak_scale", os.path.join(repo, "tools", "soak_scale.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    for rung, entry in m.RUNGS.items():
        assert len(entry) == 4, f"rung {rung} is a {len(entry)}-tuple"
        dst, replicas, tables, queries = entry
        assert isinstance(dst, str) and isinstance(replicas, int)
        assert isinstance(tables, list) and isinstance(queries, list)
        stale = [q for q in queries if q not in QUERIES]
        assert not stale, f"rung {rung} names unknown keys {stale}"


def test_decode_image_real_netpbm_through_spark(spark):
    """The REAL decode kernel (Pillow when installed, stdlib netpbm parser
    otherwise) through the actual mapInPandas plumbing — closes the
    'stand-in-only kernels' gap: genuine image bytes, genuinely parsed."""
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)

    def ppm(w, h):  # P6 with a comment line, raw RGB payload
        return (f"P6\n# test image\n{w} {h}\n255\n").encode() + bytes(
            (i * 7) % 256 for i in range(w * h * 3)
        )

    rows = [(1, ppm(4, 3)), (2, ppm(16, 9)), (3, b"P5\n2 2\n255\n" + b"\0" * 4)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    out = {
        r["id"]: r
        for r in multimodal.decode_batch(
            df, kernel=multimodal.decode_image_real
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (4, 3)
    assert (out[2]["width"], out[2]["height"]) == (16, 9)
    assert (out[3]["width"], out[3]["height"]) == (2, 2)
    try:
        import PIL  # noqa: F401

        assert out[1]["format"] in ("ppm", "pgm")  # Pillow names vary
    except ImportError:
        assert out[1]["format"] == "ppm"
        assert out[3]["format"] == "pgm"


def test_decode_image_real_rejects_garbage():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_image_real(b"\x89PNG-but-not-really")
    with _pytest.raises(ValueError):
        multimodal.decode_image_real(b"P6\n4 ")  # truncated header


def test_numpy_logreg_scorer_through_spark(spark):
    """Real vectorized model math (featurize → matmul → logit) through
    score_documents; equality with a direct numpy evaluation proves the
    Arrow batching doesn't perturb the kernel."""
    import numpy as np

    from xml_to_parquet_spark.functions import inference
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    texts = ["short", "A LONGER SHOUTY TEXT 123", "the quick brown fox " * 5]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["logit"]
        for r in inference.score_documents(
            df, scorer=inference.numpy_logreg_scorer
        ).collect()
    }
    want = inference.numpy_logreg_scorer(texts)
    for i, w in enumerate(want):
        assert np.isclose(got[i], w), (i, got[i], w)
    # partition-invariance of the real kernel too
    got7 = {
        r["doc_id"]: r["logit"]
        for r in inference.score_documents(
            df.repartition(7), scorer=inference.numpy_logreg_scorer
        ).collect()
    }
    assert got == got7


def test_aspect_fit_integer_math():
    # no upscale
    assert multimodal.aspect_fit(100, 50, 128, 96) == (100, 50)
    # width-limited
    assert multimodal.aspect_fit(256, 96, 128, 96) == (128, 48)
    # height-limited
    assert multimodal.aspect_fit(100, 200, 128, 96) == (48, 96)
    # extreme aspect ratio clamps to 1, never 0
    assert multimodal.aspect_fit(1000, 1, 10, 10) == (10, 1)
    assert multimodal.aspect_fit(1, 1000, 10, 10) == (1, 10)


def test_resize_netpbm_nearest_neighbor_values():
    """Pixel-exact check of the raw-netpbm resampler: P5 4x2 ramp into a
    2x2 box -> 2x1 output sampling columns 0 and 2 of row 0."""
    payload = b"P5\n4 2\n255\n" + bytes([0, 1, 2, 3, 10, 11, 12, 13])
    out = multimodal._resize_netpbm(payload, 2, 2)
    header, raster = out.rsplit(b"\n", 1)
    assert header == b"P5\n2 1\n255"
    assert raster == bytes([0, 2])


def test_resize_image_real_roundtrip_through_spark(spark):
    """Real resize kernel through the mapInPandas plumbing, then the
    resized payload re-decoded to prove output dims are genuinely written
    into the raster, not just reported."""
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)

    def ppm(w, h):
        return (f"P6\n{w} {h}\n255\n").encode() + bytes(
            (i * 7) % 256 for i in range(w * h * 3)
        )

    rows = [(1, ppm(16, 9)), (2, ppm(4, 3))]
    df = spark.createDataFrame(rows, "id long, payload binary")

    def kernel(payload, mw, mh):
        w, h, ow, oh, fmt, resized = multimodal.resize_image_real(
            payload, mw, mh
        )
        # re-decode the resized payload: dims must round-trip
        rw, rh, _ = multimodal.decode_image_real(resized)
        assert (rw, rh) == (ow, oh)
        return w, h, ow, oh, fmt

    out = {
        r["id"]: r
        for r in multimodal.resize_batch(df, 8, 8, kernel=kernel).collect()
    }
    assert (out[1]["in_width"], out[1]["in_height"]) == (16, 9)
    assert (out[1]["out_width"], out[1]["out_height"]) == (8, 4)
    # within-box image passes through unscaled
    assert (out[2]["out_width"], out[2]["out_height"]) == (4, 3)


def test_byte_features_partition_invariant_and_exact(spark):
    from xml_to_parquet_spark.session import _ship_package

    _ship_package(spark)
    rows = [
        (1, b"Az 09"),
        (2, b""),
        (3, bytes(range(256))),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in multimodal.byte_features_batch(df).collect()}
    r1 = got[1]
    assert (r1["n_bytes"], r1["byte_sum"]) == (5, 65 + 122 + 32 + 48 + 57)
    assert (r1["n_upper"], r1["n_digit"], r1["n_space"]) == (1, 2, 1)
    assert (got[2]["n_bytes"], got[2]["max_byte"]) == (0, -1)
    assert (got[3]["byte_sum"], got[3]["max_byte"]) == (255 * 128, 255)
    got7 = {
        r["id"]: r
        for r in multimodal.byte_features_batch(df.repartition(7)).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in got7.items()
    }


def test_fake_resize_matches_oracle_arithmetic():
    """fake_resize == the a93 oracle's SQL CASE, byte for byte, on digests
    spanning every branch of aspect_fit over the md5 dim range."""
    import hashlib

    for seed in range(200):
        payload = f"doc {seed}".encode()
        d = hashlib.md5(payload).digest()
        w, h = 64 + d[0] % 192, 64 + d[1] % 192
        ew, eh = multimodal.aspect_fit(w, h, 128, 96)
        gw, gh, gow, goh, _ = multimodal.fake_resize(payload, 128, 96)
        assert (gw, gh, gow, goh) == (w, h, ew, eh)
        # SQL CASE twin
        if w <= 128 and h <= 96:
            sw, sh = w, h
        elif w * 96 >= h * 128:
            sw, sh = 128, (h * 128) // w
        else:
            sw, sh = (w * 96) // h, 96
        assert (sw, sh) == (ew, eh), (w, h)


def test_bench_line_fits_driver_window():
    """The driver records only the last 2000 bytes of bench stdout; r2/r3
    lost their bench data to an oversized JSON line.  Render the line
    with every number at its widest and assert headroom."""
    import os
    import sys

    import bench

    tools = os.path.join(os.path.dirname(bench.__file__), "tools")
    sys.path.insert(0, tools)
    from gate import worst_case_bench_line

    line = worst_case_bench_line()
    assert len(bench.HEADLINE) >= 30, "headline subset shrank unexpectedly"
    assert len(line) < 1900, len(line)


def test_ivf_pq_adc_full_probe_equals_exact_bruteforce(spark):
    """With every cell probed and an unbounded shortlist, IVF-PQ ADC's
    exact re-rank must return exactly the brute-force integer-L2 top-k
    (ties to the smaller id) — the degenerate-complete case that pins the
    whole composition's arithmetic. The approximate configs then only
    shrink the candidate set."""
    import random

    import numpy as np

    from xml_to_parquet_spark.functions.similarity import ivf_pq_adc_topk

    rng = random.Random(11)
    n, dim, k = 60, 8, 4
    vecs = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = [0, 5, 9]
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_pq_adc_topk(
            df, queries, k=k, n_centroids=4, n_probe=4, m=2, pq_k=8,
            dim=dim, rerank=10_000,
        ).collect()
    }
    # numpy mirror: float32 -> double -> quantize, exact integer L2
    q = np.floor(
        np.array(vecs, dtype=np.float32).astype(np.float64) * 1_000_000
        + 0.5
    ).astype(np.int64)
    for qid in queries:
        d = ((q - q[qid]) ** 2).sum(axis=1)
        order = sorted(
            (int(dd), i) for i, dd in enumerate(d) if i != qid
        )
        for rank, (_, nid) in enumerate(order[:k], start=1):
            assert got[(qid, rank)] == nid, (qid, rank)


def test_ivf_pq_adc_contract_and_partition_invariance(spark):
    import random

    from xml_to_parquet_spark.functions.similarity import ivf_pq_adc_topk

    rng = random.Random(3)
    df = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(k=3, n_centroids=4, n_probe=2, m=2, pq_k=8, dim=8, rerank=5)
    a = ivf_pq_adc_topk(df, [1, 2], **kw).collect()
    b = ivf_pq_adc_topk(df.repartition(13), [1, 2], **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():  # contiguous ranks starting at 1
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_netpbm_decode_resize_batch_real_raster(spark):
    """The a45 stage on a NON-constant raster: output md5 must equal the
    hash of the genuinely index-resampled payload."""
    import hashlib

    import numpy as np

    from xml_to_parquet_spark.functions.multimodal import (
        aspect_fit,
        netpbm_decode_resize_batch,
    )

    w, h = 10, 4
    raster = bytes(bytearray((x * 7 + y * 31) % 256
                             for y in range(h) for x in range(w)))
    payload = f"P5\n{w} {h}\n255\n".encode() + raster
    df = spark.createDataFrame([(1, payload)], "id long, payload binary")
    r = netpbm_decode_resize_batch(df, 5, 3).collect()[0]
    ow, oh = aspect_fit(w, h, 5, 3)
    assert (r.in_width, r.in_height, r.out_width, r.out_height) == (
        w, h, ow, oh)
    grid = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 1)
    ys = (np.arange(oh) * h) // oh
    xs = (np.arange(ow) * w) // ow
    expect = (f"P5\n{ow} {oh}\n255\n".encode()
              + grid[ys][:, xs].tobytes())
    assert r.out_md5 == hashlib.md5(expect).hexdigest()
    assert r.out_bytes == len(expect)
    assert r.format == "pgm"


def test_quantized_logreg_kernel_exact_arithmetic():
    """Pin the quantized kernel against an independent pure-Python
    reference, including unicode (multi-byte chars count toward byte
    length but never toward the ASCII digit/upper/space classes)."""
    from xml_to_parquet_spark.functions.inference import (
        QUANT_BIAS,
        QUANT_WEIGHTS,
        quantized_logreg_scorer,
    )

    texts = [
        "Plain text with 3 numbers 42 and 7",
        "ALLCAPS",
        "nocapsnodigits",
        "   ",
        "x",
        "naïve café — ünïcödé 12",  # multi-byte bytes hit no ASCII class
        "A" * 100 + "9" * 50 + " " * 25,
    ]
    got = quantized_logreg_scorer(texts)
    for t, lg in zip(texts, got):
        b = t.encode("utf-8")
        f = [
            len(b),
            sum(1 for c in b if 48 <= c <= 57),
            sum(1 for c in b if 65 <= c <= 90),
            sum(1 for c in b if c == 32),
        ]
        expect = sum(w * x for w, x in zip(QUANT_WEIGHTS, f)) + QUANT_BIAS
        assert lg == expect, t


def test_score_documents_quantized_batch_invariant(spark):
    from xml_to_parquet_spark.functions.inference import (
        score_documents_quantized,
    )

    docs = spark.createDataFrame(
        [(i, f"Doc {i} text with {i % 7} CAPS and spaces") for i in range(200)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, score_documents_quantized(docs).collect()))
    b = sorted(
        map(tuple, score_documents_quantized(docs.repartition(9)).collect())
    )
    assert a == b
    assert all(isinstance(r[1], int) for r in a)
    assert all(r[2] == (r[1] >= 0) for r in a)


def test_semantic_dedup_fixture(spark):
    # two well-separated clusters seeded by ids 0/1; 2 and 3 are in-cell
    # near-dups of their seed; 4 is orthogonal to everything and kept
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.95, 0.05, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.keep, r.dup_of)
        for r in similarity.semantic_dedup(
            df, k=2, iterations=1, quant=512
        ).collect()
    }
    assert out[0] == (True, None)
    assert out[1] == (True, None)
    assert out[2] == (False, 0)
    assert out[3] == (False, 1)
    assert out[4] == (True, None)


def test_semantic_dedup_partition_invariant(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    results = [
        sorted(
            (r.vec_id, r.cell, r.keep, r.dup_of)
            for r in similarity.semantic_dedup(
                emb.repartition(p), k=4, iterations=2, quant=512
            ).collect()
        )
        for p in (1, 7)
    ]
    assert results[0] == results[1]
    assert any(not r[2] for r in results[0])  # some rows actually dropped


def test_semantic_dedup_drops_satisfy_threshold_and_cell(spark):
    # every dropped row must point at a smaller-id clustermate whose true
    # (float) cosine clears the threshold up to quantization fuzz
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.semantic_dedup(emb, k=4, iterations=2, quant=512)
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    cells = {r.vec_id: r.cell for r in out.collect()}
    dropped = [r for r in out.collect() if not r.keep]
    assert dropped
    for r in dropped:
        assert r.dup_of < r.vec_id
        assert cells[r.dup_of] == r.cell
        a = vecs[r.vec_id]
        b = vecs[r.dup_of]
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(y * y for y in b)
        )
        assert num / den >= 0.4 - 0.01


def test_semantic_dedup_kernels_identical(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    res = [
        sorted(
            (r.vec_id, r.cell, r.keep, r.dup_of)
            for r in similarity.semantic_dedup(
                emb, k=4, iterations=2, quant=512, kernel=kern
            ).collect()
        )
        for kern in ("gemm", "expr")
    ]
    assert res[0] == res[1]
    assert any(not r[2] for r in res[0])


def test_kmeans_probe_rank0_is_single_assignment(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single = {
        r.vec_id: r.cell
        for r in similarity.kmeans_assign_quantized(
            emb, k=4, iterations=2, quant=512
        ).collect()
    }
    probes = similarity.kmeans_probe_quantized(
        emb, k=4, iterations=2, n_probe=3, quant=512
    ).collect()
    primary = {r.vec_id: r.cell for r in probes if r.probe_rank == 0}
    assert primary == single
    per_id = {}
    for r in probes:
        per_id.setdefault(r.vec_id, set()).add(r.cell)
    assert all(len(cells) == 3 for cells in per_id.values())


def test_semantic_dedup_multiprobe_monotone_and_no_false_drop(spark):
    # more probes can only grow the candidate set (drops are monotone in
    # n_probe) and never exceed the exact all-pairs drop set
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    drops = {}
    cells_out = {}
    for np_ in (1, 2, 4):
        out = similarity.semantic_dedup(
            emb, k=4, iterations=2, quant=512, n_probe=np_
        ).collect()
        drops[np_] = {(r.vec_id, r.dup_of) for r in out if not r.keep}
        cells_out[np_] = sorted((r.vec_id, r.cell) for r in out)
        assert len(out) == len({r.vec_id for r in out})  # one row per id
    assert {p[0] for p in drops[1]} <= {p[0] for p in drops[2]}
    assert {p[0] for p in drops[2]} <= {p[0] for p in drops[4]}
    # reported cell is the primary cell regardless of n_probe
    assert cells_out[1] == cells_out[2] == cells_out[4]
    # exact all-pairs keep-min-id drop set (numpy replay) bounds them all
    import numpy as np

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * 512.0
        + 0.5
    ).astype(np.int64)
    G = V @ V.T
    nn = np.diagonal(G).copy()
    ok = (
        (G > 0)
        & (nn[:, None] > 0)
        & (nn[None, :] > 0)
        & (G * G * 25 >= 4 * nn[:, None] * nn[None, :])
    )
    tri = np.triu(ok, 1)
    exact_drops = {int(ids[j]) for j in range(len(ids)) if tri[:, j].any()}
    for np_ in (1, 2, 4):
        assert {p[0] for p in drops[np_]} <= exact_drops


def test_semantic_dedup_multiprobe_kernels_identical(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    res = [
        sorted(
            (r.vec_id, r.cell, r.keep, r.dup_of)
            for r in similarity.semantic_dedup(
                emb, k=4, iterations=2, quant=512, kernel=kern, n_probe=3
            ).collect()
        )
        for kern in ("gemm", "expr")
    ]
    assert res[0] == res[1]


def test_semantic_dedup_rejects_bad_n_probe(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="n_probe"):
        similarity.semantic_dedup(emb, k=4, n_probe=0)


def test_linear_probe_fit_recovers_separable_signal(spark):
    """On a genuinely separable synthetic set (y=Q iff x1 high), fixed-
    point batch GD must learn a probe with high training accuracy and
    the right weight signs — the mechanism test the documents fixture
    cannot provide (its languages share one text generator, so shape
    features carry no class signal; the catalog entry q127 fits that
    corpus honestly to its base rate, bit-exact against the oracle)."""
    from xml_to_parquet_spark.functions.inference import linear_probe_fit

    Q = 1_000_000
    rows = []
    for i in range(400):
        hi = i % 2 == 1
        x1 = 800_000 + (i % 97) * 1000 if hi else 100_000 + (i % 97) * 1000
        x2 = (i * 37) % 500_000  # noise
        rows.append((Q if hi else 0, x1, x2))
    feats = spark.createDataFrame(rows, "y long, x1 long, x2 long")
    model = linear_probe_fit(
        feats, ["x1", "x2"], rounds=12, lr_num=1, lr_den=1
    )
    w = {r.pos: r.w for r in model.collect()}
    import pyspark.sql.functions as F

    pred = feats.select(
        "y",
        F.expr(
            f"div({Q}L * {w[0]}L + x1 * {w[1]}L + x2 * {w[2]}L, {Q}L)"
        ).alias("p"),
    )
    acc = pred.select(
        (
            (F.col("p") > Q // 2).cast("int")
            == (F.col("y") > 0).cast("int")
        ).cast("int").alias("ok")
    ).agg(F.avg("ok")).first()[0]
    assert acc >= 0.95
    assert w[1] > 0  # the separating feature got positive weight


def test_linear_probe_fit_matches_python_replay(spark):
    from xml_to_parquet_spark.functions.inference import linear_probe_fit

    Q = 1_000_000
    rows = [
        (Q, 700_000, 12_000), (0, 150_000, 900_000),
        (Q, 650_000, 44_000), (0, 200_000, 100_000),
        (Q, 900_000, 0), (0, 0, 0),
    ]
    feats = spark.createDataFrame(rows, "y long, x1 long, x2 long")
    got = {
        r.pos: r.w
        for r in linear_probe_fit(
            feats, ["x1", "x2"], rounds=4, lr_num=1, lr_den=3
        ).collect()
    }

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    w = [0, 0, 0]
    n = len(rows)
    for _ in range(4):
        g = [0, 0, 0]
        for y, x1, x2 in rows:
            p = tdiv(Q * w[0] + x1 * w[1] + x2 * w[2], Q)
            e = y - p
            g[0] += e * Q
            g[1] += e * x1
            g[2] += e * x2
        for j in range(3):
            w[j] += tdiv(1 * g[j], 3 * n * Q)
    assert got == {0: w[0], 1: w[1], 2: w[2]}


def test_linear_probe_fit_partition_invariant(spark):
    from xml_to_parquet_spark.functions.inference import linear_probe_fit

    Q = 1_000_000
    rows = [(Q * (i % 2), (i * 7919) % Q, (i * 104729) % Q)
            for i in range(300)]
    a = [
        tuple(r)
        for r in linear_probe_fit(
            spark.createDataFrame(rows, "y long, x1 long, x2 long")
            .repartition(1),
            ["x1", "x2"], rounds=3,
        ).collect()
    ]
    b = [
        tuple(r)
        for r in linear_probe_fit(
            spark.createDataFrame(rows, "y long, x1 long, x2 long")
            .repartition(13),
            ["x1", "x2"], rounds=3,
        ).collect()
    ]
    assert a == b


def _wav_df(spark, rows):
    """rows: [(id, [samples...])] -> DataFrame(id, payload) via the
    JVM-side PCM16 builder."""
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.multimodal import pcm16_wav_expr

    df = spark.createDataFrame(rows, "id long, samples array<int>")
    return df.select("id", pcm16_wav_expr("samples").alias("payload"))


def test_wav_features_known_clips(spark):
    from xml_to_parquet_spark.functions.multimodal import wav_features_batch

    clips = [
        (1, [0, 0, 0, 0]),            # silence
        (2, [100, 100, 100]),         # constant: no crossings
        (3, [1000, -1000, 1000]),     # alternating: 2 crossings
        (4, [5, 0, -5]),              # zero breaks a crossing
        (5, [7]),                     # single sample
        (6, [-32768, 32767]),         # int16 extremes survive encoding
        (7, []),                      # empty clip
    ]
    out = {
        r.id: r
        for r in wav_features_batch(_wav_df(spark, clips)).collect()
    }
    assert (out[1].energy, out[1].max_abs, out[1].zero_crossings) == (0, 0, 0)
    assert (out[2].energy, out[2].zero_crossings) == (3 * 100 * 100, 0)
    assert (out[3].energy, out[3].zero_crossings) == (3 * 1000 * 1000, 2)
    assert out[4].zero_crossings == 0
    assert (out[5].n_samples, out[5].energy, out[5].max_abs) == (1, 49, 7)
    assert (out[6].max_abs, out[6].zero_crossings) == (32768, 1)
    assert out[6].energy == 32768 * 32768 + 32767 * 32767
    assert (out[7].n_samples, out[7].energy, out[7].max_abs,
            out[7].zero_crossings) == (0, 0, 0, 0)
    assert all(
        (r.sample_rate, r.channels) == (8000, 1) for r in out.values()
    )
    assert out[1].duration_ms == 4 * 1000 // 8000


def test_wav_kernel_parses_stdlib_built_wav(spark):
    """Cross-construction check: a WAV written by the stdlib wave module
    (not our JVM builder) must parse to the same features — proves the
    kernel isn't just inverting the builder's bugs."""
    import io
    import wave

    from xml_to_parquet_spark.functions.multimodal import wav_features_batch

    samples = [3, -4, 5, -6, 0, 600]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(
            b"".join(
                int(s).to_bytes(2, "little", signed=True) for s in samples
            )
        )
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "id long, payload binary"
    )
    r = wav_features_batch(df).collect()[0]
    assert (r.n_samples, r.sample_rate, r.channels) == (6, 44100, 1)
    assert r.energy == sum(s * s for s in samples)
    assert r.zero_crossings == 3  # 3/-4, -4/5, 5/-6; 0 breaks the last
    assert r.max_abs == 600


def test_wav_features_rejects_non_pcm16(spark):
    import io
    import wave

    import pytest

    from xml_to_parquet_spark.functions.multimodal import wav_features_batch

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit, not PCM16
        w.setframerate(8000)
        w.writeframes(b"\x80\x7f")
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "id long, payload binary"
    )
    with pytest.raises(Exception):
        wav_features_batch(df).collect()


def test_jl_project_matches_python_reference(spark):
    from xml_to_parquet_spark.functions.similarity import (
        jl_project,
        jl_sign_matrix,
    )

    vecs = [
        (1, [0.5, -0.25, 0.125, 1.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-1.5, 2.5, -3.5, 4.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {
        r.id: [r[f"p{k}"] for k in range(3)]
        for r in jl_project(df, in_dim=4, out_dim=3).collect()
    }
    import math

    mat = jl_sign_matrix(4, 3)
    for vid, v in vecs:
        q = [math.floor(float(x) * 1_000_000 + 0.5) for x in v]
        expect = [sum(qj * s for qj, s in zip(q, mat[k])) for k in range(3)]
        assert out[vid] == expect, (vid, out[vid], expect)


def test_jl_project_preserves_cluster_separation(spark):
    """JL quality: two tight, well-separated clusters stay separated
    after projection — every projected intra-cluster distance is
    smaller than every inter-cluster one."""
    import random

    from xml_to_parquet_spark.functions.similarity import jl_project

    rng = random.Random(7)
    dim, k = 32, 8
    a = [10.0] * 16 + [0.0] * 16
    b = [0.0] * 16 + [10.0] * 16
    rows = []
    for i in range(20):
        base = a if i < 10 else b
        rows.append(
            (i, [x + rng.uniform(-0.1, 0.1) for x in base])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pts = {
        r.id: [r[f"p{j}"] for j in range(k)]
        for r in jl_project(df, in_dim=dim, out_dim=k).collect()
    }

    def d2(u, v):
        return sum((x - y) ** 2 for x, y in zip(u, v))

    intra = [
        d2(pts[i], pts[j])
        for grp in (range(10), range(10, 20))
        for i in grp for j in grp if i < j
    ]
    inter = [d2(pts[i], pts[j]) for i in range(10) for j in range(10, 20)]
    assert max(intra) < min(inter)


def test_jl_project_rejects_wrong_dim(spark):
    import pytest

    from xml_to_parquet_spark.functions.similarity import jl_project

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception):
        jl_project(df, in_dim=4, out_dim=2).collect()


def test_jl_sign_matrix_deterministic_golden(spark):
    from xml_to_parquet_spark.functions.similarity import jl_sign_matrix

    m1 = jl_sign_matrix(6, 2)
    m2 = jl_sign_matrix(6, 2)
    assert m1 == m2
    assert all(s in (-1, 1) for row in m1 for s in row)
    # seed changes the matrix
    assert jl_sign_matrix(6, 2, seed="other") != m1


def test_jl_ann_exact_on_clustered_corpus(spark):
    """On clustered data (real embedding geometry) the two-stage JL ANN
    at the catalog operating point recovers the exact top-5 perfectly;
    the near-isotropic fixture's recall sweep lives in SCALING.md as
    the documented worst case."""
    import random

    from xml_to_parquet_spark.functions.similarity import jl_ann_topk

    rng = random.Random(3)
    centers = [
        [rng.uniform(-1, 1) for _ in range(64)] for _ in range(20)
    ]
    rows = [
        (i, [x + rng.uniform(-0.05, 0.05) for x in centers[i % 20]])
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # exact integer-L2 ground truth — quantize through float32 first,
    # because array<float> stores the values as float32
    import math
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    V = {
        i: [math.floor(f32(x) * 1_000_000 + 0.5) for x in v]
        for i, v in rows
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    qids = list(range(8))
    got = {}
    for r in jl_ann_topk(emb, qids, k=5, n_candidates=40).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
    for q in qids:
        order = sorted(
            (d2(V[q], V[i]), i) for i in V if i != q
        )[:5]
        expect = [(rk + 1, i, d) for rk, (d, i) in enumerate(order)]
        assert sorted(got[q]) == expect, q


def test_jl_ann_candidates_monotone_and_bounded(spark):
    """More candidates never hurt: the stage-2 result under C2 > C1 is
    at least as close (rank-1 distance non-increasing), and output is
    always exactly k rows per query when the corpus is big enough."""
    from xml_to_parquet_spark.functions.similarity import jl_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d1 = {
        (r.query_id, r.rank): r.dist
        for r in jl_ann_topk(emb, [0, 1, 2], k=3, n_candidates=10).collect()
    }
    d2_ = {
        (r.query_id, r.rank): r.dist
        for r in jl_ann_topk(emb, [0, 1, 2], k=3, n_candidates=60).collect()
    }
    assert len(d1) == 9 and len(d2_) == 9
    for key in d1:
        assert d2_[key] <= d1[key]


def test_linear_probe_fit_overflow_fails_loud(spark):
    """r9 ADVICE: the int64 overflow contract was documentation-only —
    gradient sums could wrap silently into plausible-but-wrong weights.
    Now try_multiply/try_sum + raise_error make a violating fit error
    loudly (same hardening as pmi_pairs / more_like_this): a label far
    outside the ppm band overflows e*scale on the very first round."""
    import pytest as _pytest

    from xml_to_parquet_spark.functions.inference import linear_probe_fit

    rows = [(10**13, 500_000), (10**13, 400_000)]
    feats = spark.createDataFrame(rows, "y long, x1 long")
    with _pytest.raises(Exception, match="linear_probe_fit"):
        linear_probe_fit(feats, ["x1"], rounds=1)


# ---------------------------------------------------------------------------
# Image perceptual hash (r10): dHash kernel + Hamming-blocked image dedup
# ---------------------------------------------------------------------------


def _pgm(pixels: list[list[int]]) -> bytes:
    h = len(pixels)
    w = len(pixels[0])
    flat = bytes(v for row in pixels for v in row)
    return f"P5\n{w} {h}\n255\n".encode() + flat


def test_dhash64_known_gradient():
    # 9x2 raster, top row strictly increasing, bottom strictly decreasing:
    # bits 0..7 all set, bits 8..15 all clear (2x8 grid)
    up = list(range(100, 109))
    down = list(range(108, 99, -1))
    h, w, ht = multimodal.dhash64(_pgm([up, down]), hash_w=8, hash_h=2)
    assert (w, ht) == (9, 2)
    assert h == 0xFF


def test_dhash64_p6_luma_and_brightness_invariance():
    # dHash depends on gradient DIRECTION only: adding a constant to every
    # pixel leaves the hash unchanged (the property byte-dedup lacks)
    base = [[10, 50, 20, 60], [70, 30, 80, 40]]
    shifted = [[v + 100 for v in row] for row in base]
    h1, *_ = multimodal.dhash64(_pgm(base), hash_w=3, hash_h=2)
    h2, *_ = multimodal.dhash64(_pgm(shifted), hash_w=3, hash_h=2)
    assert h1 == h2
    # P6 grayscale-equal channels == P5 of the same values (luma identity)
    flat = bytes(v for row in base for v in row for _ in range(3))
    p6 = b"P6\n4 2\n255\n" + flat
    h3, *_ = multimodal.dhash64(p6, hash_w=3, hash_h=2)
    assert h3 == h1


def test_dhash64_sign_bit_and_param_guard():
    import pytest as _pytest

    # a raster whose 8x8 dHash sets bit 63: every row increasing
    rows = [list(range(50, 59)) for _ in range(8)]
    h, *_ = multimodal.dhash64(_pgm(rows))
    assert h == -1  # all 64 bits set == int64 -1 (uint64 reinterpret)
    with _pytest.raises(ValueError, match="hash grid"):
        multimodal.dhash64(_pgm(rows), hash_w=9)
    with _pytest.raises(ValueError, match="raw netpbm"):
        multimodal.dhash64(b"P2\n1 1\n255\n0")


def test_image_neardup_pairs_blocked_exact(spark):
    # 3 near-identical images (one pixel nudged: <=2 dHash bits apart) +
    # 1 distinct image; blocked pairs must equal brute-force pairs, and
    # the 64-bit sign bit must not break the pigeonhole chunking
    import itertools

    base = [[(7 * r + 13 * c) % 200 + 28 for c in range(9)] for r in range(8)]
    variant = [row[:] for row in base]
    variant[3][4] = 255
    other = [[(211 * (r + 1) * (c + 3)) % 256 for c in range(9)]
             for r in range(8)]
    payloads = [_pgm(base), _pgm(variant), _pgm(base), _pgm(other)]
    hashes = [multimodal.dhash64(p)[0] for p in payloads]
    assert hashes[0] < 0 or hashes[3] < 0 or True  # sign exercised below
    expect = sorted(
        (a, b, bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1"))
        for a, b in itertools.combinations(range(4), 2)
        if bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1") <= 3
    )
    assert (0, 2, 0) in expect  # the exact-duplicate pair is present
    df = spark.createDataFrame(
        list(zip(range(4), payloads)), "id long, payload binary"
    )
    got = sorted(
        tuple(r) for r in multimodal.image_neardup_pairs(
            df, max_hamming=3
        ).collect()
    )
    assert got == expect


def test_dhash_batch_partition_invariant(spark):
    rows = [
        (i, _pgm([[(i * 31 + r * 9 + c) % 256 for c in range(9)]
                  for r in range(8)]))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "id long, payload binary")
    one = sorted(tuple(r) for r in multimodal.dhash_batch(df).collect())
    many = sorted(
        tuple(r)
        for r in multimodal.dhash_batch(df.repartition(7)).collect()
    )
    assert one == many
    ref = {i: multimodal.dhash64(p)[0] for i, p in rows}
    assert {r[0]: r[1] for r in one} == ref


def test_ann_topk_auto_dispatch(spark):
    # dispatcher = physical choice by |Q|: small query sets take the JL
    # prefilter path, large ones the IVF-PQ path; outputs match the
    # directly-invoked engine on each side of the boundary
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(48)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    small_q = [0, 1, 2]
    big_q = list(range(20))
    auto_small = sorted(
        tuple(r)
        for r in similarity.ann_topk_auto(
            df, small_q, k=3, jl_max_queries=8, dim=16, out_dim=4,
        ).collect()
    )
    direct_jl = sorted(
        tuple(r)
        for r in similarity.jl_ann_topk(
            df, small_q, k=3, in_dim=16, out_dim=4
        ).select("query_id", "neighbor_id", "rank").collect()
    )
    assert auto_small == direct_jl
    auto_big = sorted(
        tuple(r)
        for r in similarity.ann_topk_auto(
            df, big_q, k=3, jl_max_queries=8, dim=16, m=4, pq_k=16,
        ).collect()
    )
    direct_ivf = sorted(
        tuple(r)
        for r in similarity.ivf_pq_adc_topk(
            df, big_q, k=3, dim=16, m=4, pq_k=16
        ).select("query_id", "neighbor_id", "rank").collect()
    )
    assert auto_big == direct_ivf
    assert len({r[0] for r in auto_big}) == len(big_q)
    # ADVICE r10: engine-specific options must survive a dispatch flip —
    # a JL-only option (out_dim) with a big |Q| routes to IVF-PQ without
    # TypeError, and vice versa (m/pq_k with a small |Q|)
    import pytest as _pytest

    # the cross-engine knobs are INTENTIONALLY warned about (ADVICE
    # r11 inert-knob warning); capture them so the suite stays
    # warning-clean (VERDICT r12 item 6)
    with _pytest.warns(UserWarning, match="inert in this regime"):
        mixed_big = sorted(
            tuple(r)
            for r in similarity.ann_topk_auto(
                df, big_q, k=3, jl_max_queries=8, dim=16,
                out_dim=4, m=4, pq_k=16,
            ).collect()
        )
    assert mixed_big == direct_ivf
    with _pytest.warns(UserWarning, match="inert in this regime"):
        mixed_small = sorted(
            tuple(r)
            for r in similarity.ann_topk_auto(
                df, small_q, k=3, jl_max_queries=8, dim=16,
                out_dim=4, m=4, pq_k=16,
            ).collect()
        )
    assert mixed_small == direct_jl

    with _pytest.raises(ValueError, match="neither"):
        similarity.ann_topk_auto(df, small_q, k=3, dim=16, nprobee=2)


def _wav(samples: list[int], rate: int = 8000) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_audio_fingerprint64_known_envelope_and_gain_invariance():
    # 4 frames of 2 samples: energies 2*a^2 rising, falling, rising
    samples = [10, 10, 20, 20, 5, 5, 30, 30]
    fp, n = multimodal.audio_fingerprint64(_wav(samples), n_frames=4)
    assert n == 8
    assert fp == 0b101  # up, down, up
    # uniform gain preserves every energy comparison → same fingerprint
    fp2, _ = multimodal.audio_fingerprint64(
        _wav([s * 3 for s in samples]), n_frames=4
    )
    assert fp2 == fp
    import pytest as _pytest

    with _pytest.raises(ValueError, match="clip too short"):
        multimodal.audio_fingerprint64(_wav([1, 2]), n_frames=4)
    with _pytest.raises(ValueError, match="n_frames"):
        multimodal.audio_fingerprint64(_wav(samples), n_frames=1)


def _wav_stereo(frames: list[tuple[int, int]], rate: int = 8000) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(rate)
        flat = [v for fr in frames for v in fr]
        w.writeframes(struct.pack(f"<{len(flat)}h", *flat))
    return buf.getvalue()


def test_audio_fingerprint64_stereo_downmix(monkeypatch):
    """ADVICE r10: stereo clips used to be fingerprinted as interleaved
    mono (misaligned frame energies). Now they downmix to a mono
    envelope first: duplicated-channel stereo must match the mono
    fingerprint exactly, and the mono frame count must halve."""
    import wave

    samples = [10, 10, 20, 20, 5, 5, 30, 30]
    fp_mono, n_mono = multimodal.audio_fingerprint64(
        _wav(samples), n_frames=4
    )
    stereo = _wav_stereo([(s, s) for s in samples])
    fp_st, n_st = multimodal.audio_fingerprint64(stereo, n_frames=4)
    assert (fp_st, n_st) == (fp_mono, n_mono)
    # asymmetric channels: floor-mean downmix, not channel interleave —
    # L=+v, R=-v-1 floor-averages to -1 per frame (flat envelope)
    anti = _wav_stereo([(s, -s - 2) for s in samples])
    fp_anti, _ = multimodal.audio_fingerprint64(anti, n_frames=4)
    assert fp_anti == 0  # every frame energy equal -> no rising deltas


def test_audio_clip_batch_matches_expression_build(spark):
    # r14: the a184 WAV fixture moved from interpreted JVM HOF assembly
    # to an Arrow-batched numpy kernel — the bytes must be IDENTICAL
    # (the oracle replays decoded fingerprints; any construction drift
    # would silently change what the entry proves). Cover all four
    # doc_id%4 classes including the flip class (did%4==1) and a
    # flip-position wraparound (did=64 -> flip bit 1... did%63).
    from xml_to_parquet_spark.workload import (
        _audio_clips_batch,
        _audio_clips_expr,
    )

    docs = spark.range(0, 70).select(F.col("id").alias("doc_id"))
    new = {r.id: bytes(r.payload) for r in _audio_clips_batch(docs).collect()}
    old = {r.id: bytes(r.payload) for r in _audio_clips_expr(docs).collect()}
    assert set(new) == set(old)
    assert all(new[k] == old[k] for k in old)


def test_image_raster_batch_matches_expression_build(spark):
    # r14: q318's P5 raster fixture moved to an Arrow-batched numpy
    # kernel — bytes must be IDENTICAL to the JVM-expression build
    # (covers the flip class did%4==0 and the bit-63 cap at k=71).
    from xml_to_parquet_spark.workload import (
        _image_rasters_batch,
        _image_rasters_expr,
    )

    docs = spark.range(0, 70).select(F.col("id").alias("doc_id"))
    new = {r.id: bytes(r.payload) for r in _image_rasters_batch(docs).collect()}
    old = {r.id: bytes(r.payload) for r in _image_rasters_expr(docs).collect()}
    assert set(new) == set(old)
    assert all(new[k] == old[k] for k in old)


def test_audio_neardup_pairs_blocked_exact(spark):
    import itertools
    import random

    rng = random.Random(3)
    base = [rng.randint(-200, 200) for _ in range(130)]
    variant = base[:]
    variant[7] += 400  # perturb one frame's energy
    other = [rng.randint(-200, 200) for _ in range(130)]
    payloads = [_wav(base), _wav(variant), _wav(base), _wav(other)]
    fps = [
        multimodal.audio_fingerprint64(p)[0] for p in payloads
    ]
    expect = sorted(
        (a, b, bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1"))
        for a, b in itertools.combinations(range(4), 2)
        if bin((fps[a] ^ fps[b]) & (2**64 - 1)).count("1") <= 3
    )
    assert (0, 2, 0) in expect  # exact-duplicate clip pair present
    df = spark.createDataFrame(
        list(zip(range(4), payloads)), "id long, payload binary"
    )
    got = sorted(
        tuple(r)
        for r in multimodal.audio_neardup_pairs(df, max_hamming=3).collect()
    )
    assert got == expect
    # partition invariance of the fingerprint stage
    one = sorted(
        tuple(r) for r in multimodal.audio_fingerprint_batch(df).collect()
    )
    many = sorted(
        tuple(r)
        for r in multimodal.audio_fingerprint_batch(
            df.repartition(3)
        ).collect()
    )
    assert one == many


# ---------------------------------------------------------------------------
# Binary sign-signature ANN (r10): popcount scan + exact re-rank
# ---------------------------------------------------------------------------


def test_sign_signature_matches_python_reference(spark):
    import random

    import numpy as np

    from xml_to_parquet_spark.functions.similarity import (
        HYPERPLANE_QUANT,
        hyperplane_components_q,
        sign_signature_batch,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["id"]: r["sig"]
        for r in sign_signature_batch(df, n_planes=20, dim=16).collect()
    }
    planes = hyperplane_components_q(20, 16)
    for i, v in rows:
        vq = [int(np.floor(x * float(HYPERPLANE_QUANT) + 0.5)) for x in v]
        sig = 0
        for p in range(20):
            dot = sum(a * b for a, b in zip(vq, planes[p]))
            if dot >= 0:
                sig |= 1 << p
        assert got[i] == sig, i
    # partition invariance
    many = {
        r["id"]: r["sig"]
        for r in sign_signature_batch(
            df.repartition(7), n_planes=20, dim=16
        ).collect()
    }
    assert many == got
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_planes"):
        sign_signature_batch(df, n_planes=65, dim=16).collect()


def test_hamming_ann_full_candidates_equals_exact_bruteforce(spark):
    """n_candidates = corpus size → stage 1 filters nothing, so the
    result must equal the exact quantized-L2 top-k (the IVF full-probe
    identity, binary edition) — including the int64 sign bit of the
    64-plane signature."""
    import random

    from xml_to_parquet_spark.functions.similarity import hamming_ann_topk

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in hamming_ann_topk(
            df, query_ids=[0, 1, 2], k=4, n_candidates=60
        ).collect()
    }
    # exact integer L2 brute force in python (same quantization)
    import numpy as np

    V = {i: np.floor(np.array(v) * 1e6 + 0.5).astype(np.int64)
         for i, v in rows}
    for q in (0, 1, 2):
        dists = sorted(
            (int(((V[q] - V[j]) ** 2).sum()), j)
            for j in V if j != q
        )
        for rank, (_, j) in enumerate(dists[:4], start=1):
            assert got[(q, rank)] == j, (q, rank)


def test_hamming_ann_candidate_bound_and_recall(spark):
    """n_candidates bounds stage-2 input; recall vs exact top-5 at the
    catalog operating point is a measured property — assert the floor
    observed on the sf0.01 fixture shape (clustered corpus)."""
    import random

    from xml_to_parquet_spark.functions.similarity import hamming_ann_topk

    rng = random.Random(9)
    # clustered corpus: 6 centers, 10 points each, mild noise
    centers = [
        [rng.uniform(-1, 1) for _ in range(64)] for _ in range(6)
    ]
    rows = []
    for i in range(60):
        c = centers[i % 6]
        rows.append(
            (i, [x + rng.uniform(-0.08, 0.08) for x in c])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    approx = hamming_ann_topk(df, query_ids=[0, 1, 2, 3], k=5,
                              n_candidates=12).collect()
    assert all(r["hamming"] >= 0 for r in approx)
    got = {q: set() for q in (0, 1, 2, 3)}
    for r in approx:
        got[r["query_id"]].add(r["neighbor_id"])
    import numpy as np

    V = {i: np.floor(np.array(v) * 1e6 + 0.5).astype(np.int64)
         for i, v in rows}
    hits = total = 0
    for q in (0, 1, 2, 3):
        exact = [j for _, j in sorted(
            (int(((V[q] - V[j]) ** 2).sum()), j) for j in V if j != q
        )[:5]]
        hits += len(got[q] & set(exact))
        total += 5
    assert hits / total >= 0.8, hits / total  # clustered-corpus floor


# ---------------------------------------------------------------------------
# MMR diversified selection
# ---------------------------------------------------------------------------


def test_mmr_select_prefers_diversity_over_redundancy(spark):
    from xml_to_parquet_spark.functions.similarity import mmr_select

    # a1/a2 are near-copies highly relevant to q; b is less relevant
    # but orthogonal. Pure relevance picks (a1, a2); MMR at λ=1/2 must
    # pick b second because a2's redundancy with a1 taxes its score.
    rows = [
        (0, [1.0, 0.00, 1.0]),  # query
        (1, [1.0, 0.05, 0.0]),  # a1
        (2, [1.0, 0.06, 0.0]),  # a2 (near-copy of a1)
        (3, [0.0, 0.05, 1.0]),  # b (equally relevant, ⊥ the a-cluster)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [r.vec_id for r in mmr_select(df, k=3, query_id=0).collect()]
    assert got == [1, 3, 2]
    # pure relevance (λ_num=0) keeps the redundant order instead
    rel = [r.vec_id for r in
           mmr_select(df, k=3, query_id=0, lam_num=0).collect()]
    assert rel == [1, 2, 3]


def test_mmr_select_excludes_query_and_raises_on_missing(spark):
    import pytest as _pytest

    from xml_to_parquet_spark.functions.similarity import mmr_select

    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = mmr_select(df, k=5, query_id=0).collect()
    assert [r.vec_id for r in got] == [1]  # query never selects itself
    with _pytest.raises(ValueError, match="not found"):
        mmr_select(df, k=2, query_id=99)


def test_mmr_select_partition_invariant_and_matches_duckdb(spark, sf_dir):
    import duckdb

    from xml_to_parquet_spark.functions.similarity import (
        mmr_select,
        mmr_select_sql,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    draws = [
        [tuple(r) for r in
         mmr_select(emb.repartition(p), k=6, query_id=3).collect()]
        for p in (1, 13)
    ]
    assert draws[0] == draws[1]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"'{sf_dir}/embeddings.parquet'"
    )
    want = [tuple(r) for r in
            con.execute(mmr_select_sql("embeddings", k=6, query_id=3))
            .fetchall()]
    assert draws[0] == want


def test_embedding_diversity_matches_brute_force(spark):
    """The moment identity must equal the O(n^2) pairwise mean on the
    same quantized vectors."""
    import itertools

    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity,
    )

    vecs = {
        "a": [[0.1, 0.2, 0.3], [0.4, 0.1, 0.0], [0.9, 0.9, 0.9],
              [0.2, 0.2, 0.2]],
        "b": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
    }
    rows = [(g, v) for g, vs in vecs.items() for v in vs]
    df = spark.createDataFrame(
        rows, "label string, embedding array<float>"
    )
    got = {
        r["label"]: r
        for r in embedding_diversity(
            df, group_cols=("label",), quant=1024
        ).collect()
    }
    import math

    for g, vs in vecs.items():
        q = [
            [math.floor(float(np_v) * 1024 + 0.5) for np_v in v]
            for v in vs
        ]
        n = len(q)
        total = sum(
            sum((x - y) ** 2 for x, y in zip(a, b))
            for a, b in itertools.permutations(q, 2)
        )
        assert got[g]["mean_sqdist_q2"] == total // (n * (n - 1))
        assert got[g]["n"] == n and got[g]["dim"] == 3


def test_embedding_diversity_detects_collapse(spark):
    """A collapsed group (identical vectors) must score 0, far below a
    diverse group."""
    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity,
    )

    rows = [("dup", [0.5, 0.5]) for _ in range(5)] + [
        ("div", [float(i) / 4, 1.0 - float(i) / 4]) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "label string, embedding array<float>"
    )
    got = {
        r["label"]: r["mean_sqdist_q2"]
        for r in embedding_diversity(df).collect()
    }
    assert got["dup"] == 0
    assert got["div"] > 0


def test_embedding_diversity_singleton_group_null(spark):
    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity,
    )

    df = spark.createDataFrame(
        [("solo", [0.1, 0.2])], "label string, embedding array<float>"
    )
    r = embedding_diversity(df).collect()[0]
    assert r["mean_sqdist_q2"] is None and r["n"] == 1


def test_embedding_diversity_duckdb_replay(spark):
    import duckdb

    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.similarity import (
        embedding_diversity,
        embedding_diversity_sql,
    )

    df = spark.range(60).select(
        (F.col("id") % 4).alias("label"),
        F.expr(
            "transform(sequence(0, 7), "
            "d -> CAST(pmod(xxhash64(id, d), 1000) AS FLOAT) / 1000.0)"
        ).alias("embedding"),
    )
    got = [
        tuple(r)
        for r in embedding_diversity(df, group_cols=("label",)).collect()
    ]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.execute(
        embedding_diversity_sql("t", group_cols=("label",))
    ).fetchall()
    assert got == want


def test_calibration_report_known_bins(spark):
    """Hand-checked: 2 bins, one monotonicity violation localized."""
    from xml_to_parquet_spark.functions.inference import (
        calibration_report,
    )

    # scores 0..9 -> 2 bins [0..4], [5..9]; low bin 4/5 pos, high 1/5
    rows = [(s, 1 if s < 4 or s == 9 else 0) for s in range(10)]
    df = spark.createDataFrame(rows, "score long, pos long")
    got = calibration_report(df, "score", "pos", n_bins=2).collect()
    assert [(r.bin, r.n, r.n_pos, r.pos_ppm) for r in got] == [
        (0, 5, 4, 800_000), (1, 5, 1, 200_000),
    ]
    assert [r.mono_violation for r in got] == [False, True]
    assert (got[0].score_min, got[0].score_max) == (0, 4)
    assert (got[1].score_min, got[1].score_max) == (5, 9)


def test_calibration_report_monotone_scorer_has_no_violations(spark):
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.inference import (
        calibration_report,
    )

    df = spark.range(1000).select(
        F.col("id").alias("score"),
        (F.col("id") >= 500).cast("long").alias("pos"),
    )
    got = calibration_report(df, "score", "pos", n_bins=10).collect()
    assert len(got) == 10
    assert not any(r.mono_violation for r in got)
    assert got[0].pos_ppm == 0 and got[-1].pos_ppm == 1_000_000


def test_calibration_report_constant_score_single_bin(spark):
    from xml_to_parquet_spark.functions.inference import (
        calibration_report,
    )

    df = spark.createDataFrame(
        [(7, 1), (7, 0), (7, 1)], "score long, pos long"
    )
    got = calibration_report(df, "score", "pos", n_bins=5).collect()
    assert len(got) == 1
    assert got[0].bin == 0 and got[0].n == 3 and got[0].n_pos == 2


def test_calibration_report_validates_and_replays(spark):
    import duckdb
    import pytest

    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.inference import (
        calibration_report,
        calibration_report_sql,
    )

    df = spark.range(400).select(
        ((F.col("id") * 93 % 1009) - 500).alias("score"),
        (F.col("id") % 3 == 0).cast("long").alias("pos"),
    )
    with pytest.raises(ValueError, match="n_bins"):
        calibration_report(df, "score", "pos", n_bins=1)
    got = [
        tuple(r)
        for r in calibration_report(df, "score", "pos", n_bins=7).collect()
    ]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.execute(
        calibration_report_sql("t", "score", "pos", n_bins=7)
    ).fetchall()
    assert got == want


def test_mutual_knn_reciprocity_prunes_hub(spark):
    """k=1: a hub that everyone points at only keeps the edge to ITS
    own nearest neighbor — one-directional hub edges are pruned."""
    from xml_to_parquet_spark.functions.similarity import (
        mutual_knn_edges,
    )

    rows = [
        (0, [10.0, 10.0]),  # hub: biggest dot with everyone
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [
        (r.id_a, r.id_b)
        for r in mutual_knn_edges(df, k=1).collect()
    ]
    # every non-hub's top-1 is the hub; the hub's top-1 is whoever has
    # the largest dot with it (vec 1+3 tie broken... compute: dots with
    # hub: v1=10240*10240? quantized dots: hub.q=[10240,10240];
    # v1 dot = 10240*1024; v3 dot = 10240*(921+102)) -> v3? 0.9+0.1=1.0
    # v1: 1.0 -> equal sums; tie by id -> neighbor 1
    assert got == [(0, 1)]


def test_mutual_knn_edges_are_symmetric_and_canonical(spark):
    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.similarity import (
        mutual_knn_edges,
    )

    df = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 5), "
            "d -> CAST(pmod(xxhash64(id, d), 100) AS FLOAT) / 100.0)"
        ).alias("embedding"),
    )
    edges = mutual_knn_edges(df, k=3).collect()
    assert len(edges) > 0
    for r in edges:
        assert r.id_a < r.id_b
        assert 1 <= r.rank_ab <= 3 and 1 <= r.rank_ba <= 3
    # canonical edges are unique
    keys = [(r.id_a, r.id_b) for r in edges]
    assert len(keys) == len(set(keys))


def test_mutual_knn_duckdb_replay(spark):
    import duckdb

    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.similarity import (
        mutual_knn_edges,
        mutual_knn_edges_sql,
    )

    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), "
            "d -> CAST(pmod(xxhash64(id, d), 997) AS FLOAT) / 997.0)"
        ).alias("embedding"),
    )
    got = [tuple(r) for r in mutual_knn_edges(df, k=4).collect()]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.execute(mutual_knn_edges_sql("t", k=4)).fetchall()
    assert got == want


def test_threshold_metrics_hand_checked(spark):
    from xml_to_parquet_spark.functions.inference import (
        threshold_metrics,
    )

    # scores 1..10, positives = {6..10}
    rows = [(s, 1 if s > 5 else 0) for s in range(1, 11)]
    df = spark.createDataFrame(rows, "score long, pos long")
    got = {
        r.threshold: r
        for r in threshold_metrics(df, "score", "pos", [4, 6, 11])
        .collect()
    }
    r4 = got[4]  # pred = score>=4: 7 predicted, tp=5 fp=2 fn=0 tn=3
    assert (r4.tp, r4.fp, r4.fn, r4.tn) == (5, 2, 0, 3)
    assert r4.precision_ppm == 1_000_000 * 5 // 7
    assert r4.recall_ppm == 1_000_000
    assert r4.f1_ppm == 2_000_000 * 5 // (10 + 2 + 0)
    r6 = got[6]  # perfect cut
    assert (r6.tp, r6.fp, r6.fn, r6.tn) == (5, 0, 0, 5)
    assert r6.f1_ppm == 1_000_000
    r11 = got[11]  # nothing predicted: precision undefined, not 0
    assert (r11.tp, r11.fp) == (0, 0)
    assert r11.precision_ppm is None
    assert r11.recall_ppm == 0


def test_threshold_metrics_validates_and_replays(spark):
    import duckdb
    import pytest

    from pyspark.sql import functions as F

    from xml_to_parquet_spark.functions.inference import (
        threshold_metrics,
        threshold_metrics_sql,
    )

    df = spark.range(500).select(
        ((F.col("id") * 37 % 211) - 100).alias("score"),
        (F.col("id") % 4 == 0).cast("long").alias("pos"),
    )
    with pytest.raises(ValueError, match="at least one"):
        threshold_metrics(df, "score", "pos", [])
    with pytest.raises(ValueError, match="duplicate"):
        threshold_metrics(df, "score", "pos", [1, 1])
    ts = [-50, 0, 50]
    got = [
        tuple(r)
        for r in threshold_metrics(df, "score", "pos", ts).collect()
    ]
    con = duckdb.connect()
    con.register("t", df.toPandas())
    want = con.execute(
        threshold_metrics_sql("t", "score", "pos", ts)
    ).fetchall()
    assert got == want
