"""Similarity search over embedding columns (array<float>).

- cosine_topk:      brute-force exact top-k for a set of query vectors.
                    Query set is broadcast; each partition scores its slice
                    of the corpus and per-partition top-k merges via a
                    rank-window — O(corpus × queries) compute, no corpus
                    shuffle until the tiny ranked output.
- lsh_bucket_topk:  the scale path — random-hyperplane (sign) LSH buckets
                    shrink the candidate set, then exact cosine re-ranks
                    within buckets. Hyperplane components are derived from
                    md5 hashes ONCE driver-side and embedded as integer
                    literals (deterministic; no stored model; the projection
                    sign is exact integer arithmetic, so any engine agrees).

Dot products stay JVM-side via zip_with + aggregate (sequential fold over
the array — deterministic order). Output contract returns (query, neighbor,
rank) — ranks, not raw floats, so engine-level ulp noise can't break
hash-comparison; ties break on neighbor id.

Pattern references (see PAPERS.md): distributed top-k similarity search
with per-partition pruning + merge (REPOSE, ICDE 2021; incremental top-k,
EDBT 2020) — our rank-window-over-partitioned-scores is the DataFrame
rendering of the same per-partition top-k + global merge shape.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic per element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.try_divide(dot(a, b), l2norm(a) * l2norm(b))


def cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).

    Returns (query_id, neighbor_id, rank). The query side is a broadcast of
    |Q| rows; corpus is scanned once. rank = row_number ordered by
    (cosine desc, neighbor_id asc) — fully deterministic.
    """
    # norms are precomputed per row BEFORE the |corpus|×|queries| join, so
    # per-pair work is one dot product — at scale this halves the flops and
    # is how a normalized-embedding store would behave
    base = df.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", l2norm(F.col("v")))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos",
            F.try_divide(dot(F.col("qv"), F.col("v")), F.col("qnrm") * F.col("nrm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "rank"
        )
    )


HYPERPLANE_QUANT = 1_000_000


def hyperplane_components_q(
    n_planes: int, dim: int, quant: int = HYPERPLANE_QUANT
) -> list[list[int]]:
    """Deterministic quantized hyperplane components, built ONCE driver-side.

    Component (p, d) = md5("p:d") first 8 hex digits / 2^32 - 0.5 (uniform in
    [-0.5, 0.5)), quantized to an integer ``floor(c*quant + 0.5)``. The
    planes are constants — round 1 regenerated them per ROW via md5
    expressions (~n_planes × dim hashes per row, forever); literals make the
    bucket one integer dot product per plane. Integer quantization makes the
    projection SIGN exact, associativity-free arithmetic — bit-identical in
    Spark and any SQL oracle (same convention as ``label_centroids``).
    """
    return [
        [
            int(
                math.floor(
                    (
                        int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
                        / float(1 << 32)
                        - 0.5
                    )
                    * quant
                    + 0.5
                )
            )
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def quantize_vec(vec: Column, quant: int = HYPERPLANE_QUANT) -> Column:
    """Elementwise ``floor(v*quant + 0.5)`` as long — exact in any engine
    (float→double widening, the multiply, and floor are IEEE-deterministic).
    """
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(float(quant)) + F.lit(0.5)),
    )


def lsh_bucket(
    vec: Column,
    n_planes: int = 8,
    dim: int = 64,
    quant: int = HYPERPLANE_QUANT,
) -> Column:
    """Sign-LSH bucket id: bit p = (quantize(v) · quantized hyperplane_p) >= 0.

    Pure integer arithmetic over literal plane components — cheap (one
    zip_with fold per plane) and exactly reproducible in SQL, so bucketed
    queries can carry a DuckDB oracle.

    Guards against a silent dim mismatch: if ``dim`` exceeded the actual
    vector length, zip_with would null-pad, the integer dot product would
    fold to NULL, and every affected plane bit would quietly become 0
    (collapsing those vectors into low buckets, skewing recall).
    ``assert_true`` makes a wrong dim fail the job loudly instead.
    NULL vectors are passed through (bucket = NULL) rather than failing
    the job: ``size(NULL)`` is never == dim, so without the isNull arm a
    single null embedding would abort the whole query instead of being
    filterable downstream.
    """
    planes = hyperplane_components_q(n_planes, dim, quant)
    size_ok = F.assert_true(
        vec.isNull() | (F.size(vec) == dim),
        F.concat(
            F.lit("lsh_bucket: vector length "),
            F.size(vec).cast("string"),
            F.lit(f" != dim {dim}"),
        ),
    )
    # assert_true returns NULL on success; fold it in so it's evaluated
    vq = F.when(size_ok.isNull(), quantize_vec(vec, quant))
    # per-plane arrays built as one parsed expr each (cuts py4j literal
    # calls by dim×) but the plane loop stays UNROLLED: folding the
    # planes into a nested transform-over-2D-array measured ~2× slower
    # per row (one more interpreted higher-order layer per element)
    bucket: Column = F.lit(0)
    for p in range(n_planes):
        cq = F.expr("array(" + ",".join(f"{c}L" for c in planes[p]) + ")")
        proj = F.aggregate(
            F.zip_with(vq, cq, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    # NULL vec → NULL bucket (not bucket 0): without this arm every null
    # embedding would silently collapse into bucket 0 and skew it.
    return F.when(vec.isNotNull(), bucket.cast("int"))


def lsh_bucket_sql(
    vec_expr: str,
    n_planes: int,
    dim: int,
    quant: int = HYPERPLANE_QUANT,
) -> str:
    """ANSI-SQL twin of ``lsh_bucket`` (1-indexed list access, DuckDB-style).

    Generated per plane as an integer dot product over the same literal
    components — exact equality with the Spark column by construction.
    """
    planes = hyperplane_components_q(n_planes, dim, quant)
    bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"({c}*CAST(floor({vec_expr}[{d + 1}]*{float(quant)}+0.5) AS BIGINT))"
            for d, c in enumerate(planes[p])
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    summed = "CAST(" + " + ".join(bits) + " AS INT)"
    # NULL-vec arm mirrors the Spark column exactly
    return f"(CASE WHEN {vec_expr} IS NULL THEN NULL ELSE {summed} END)"


def lsh_bucket_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank within the query's LSH bucket.

    The corpus is scored once into buckets (linear scan, no shuffle), then
    only same-bucket candidates join each query — at scale this cuts the
    candidate set by ~2^n_planes while the bucket assignment stays a pure
    map. Recall is tunable via n_planes (fewer planes = bigger buckets =
    higher recall).
    """
    if dim is None:
        # one-row probe for the vector width (plane literals are built at
        # plan time); callers that know the dim should pass it
        dim = df.select(F.size(F.col(vec_col))).first()[0]
    base = df.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", lsh_bucket(F.col("v"), n_planes, dim))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        base.join(
            F.broadcast(queries), on=F.col("bucket") == F.col("qbucket")
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank")
    )


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    centroid cells, search only the ``n_probe`` cells nearest each query.

    Centroids here are hash-seeded (the first ``n_centroids`` vectors by id)
    so the whole index build is deterministic and SQL-expressible — a
    production build would Lloyd-iterate the centroids (each iteration is
    one groupBy-average over the assignment), which changes recall, not the
    plan shape below.

    Plan shape (the part that matters at 100 TB):
    - centroids are broadcast; cell assignment is a map-side argmax over
      n_centroids cosines — a single linear scan of the corpus, no shuffle;
    - the probe join hits only ~(n_probe / n_centroids) of the corpus per
      query instead of all of it (brute force = cosine_topk);
    - exact cosine re-ranks inside the probed cells; ranks are returned, so
      float ulp noise can't break result comparison.
    """
    base = df.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    )
    cents = base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col("v").alias("cv")
    )

    def nearest_cells(side: DataFrame, n: int, out_id: str) -> DataFrame:
        scored = side.crossJoin(F.broadcast(cents)).withColumn(
            "cos_c", cosine(F.col("v"), F.col("cv"))
        )
        w = Window.partitionBy(side[id_col]).orderBy(
            F.col("cos_c").desc(), F.col("centroid_id").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select(
                F.col(id_col).alias(out_id), F.col("v"), F.col("centroid_id")
            )
        )

    assigned = nearest_cells(base, 1, "corpus_id")
    qprobe = nearest_cells(
        base.filter(F.col(id_col).isin(query_ids)), n_probe, "query_id"
    ).select("query_id", F.col("v").alias("qv"), "centroid_id")

    scored = (
        assigned.join(F.broadcast(qprobe), on="centroid_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("corpus_id").alias("neighbor_id"), "rank")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Exact all-pairs via TILED BLOCK MATMUL — fully distributed, nothing on
    the driver:

    1. each row is hash-assigned a block id ``g`` in [0, n_blocks);
    2. each row is replicated into every unordered block pair (bi, bj) that
       contains its block (n_blocks copies/row — the inherent cost of exact
       all-pairs: every block must meet every other block);
    3. ``groupBy(bi, bj).applyInPandas`` gemms the two blocks of each pair
       with one numpy matmul and emits pairs above threshold.

    Executor memory per task is bounded by 2·(N/n_blocks)·dim·8B regardless
    of corpus size — raise ``n_blocks`` as N grows (shuffle volume scales
    linearly with it; work stays O(N²·dim) as exact all-pairs must). For
    sparse near-dup needs, filter candidates with ``lsh_bucket`` first
    instead — this function is the exact-answer path.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("g", F.pmod(F.hash("id"), F.lit(n_blocks)).cast("int"))
    others = spark.range(n_blocks).select(F.col("id").cast("int").alias("h"))
    rep = base.crossJoin(F.broadcast(others)).select(
        F.least("g", "h").alias("bi"),
        F.greatest("g", "h").alias("bj"),
        "g",
        "id",
        "v",
    )

    def _prep(pdf):
        ids = pdf["id"].to_numpy()
        m = np.array(list(pdf["v"]), dtype=np.float64)
        n = np.sqrt((m * m).sum(axis=1))
        n[n == 0] = 1.0
        return ids, m / n[:, None]

    empty = pd.DataFrame(
        {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}
    )

    def _gemm_pair(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        if bi == bj:
            if len(pdf) == 0:
                return empty
            ids, m = _prep(pdf)
            sims = m @ m.T
            r, c = np.where(sims >= threshold)
            keep = ids[r] < ids[c]
            return pd.DataFrame({"id_a": ids[r][keep], "id_b": ids[c][keep]})
        left = pdf[pdf["g"] == bi]
        right = pdf[pdf["g"] == bj]
        if len(left) == 0 or len(right) == 0:
            return empty
        lids, lm = _prep(left)
        rids, rm = _prep(right)
        sims = lm @ rm.T
        r, c = np.where(sims >= threshold)
        ia, ib = lids[r], rids[c]
        # ids are unique, so min<max strictly (blocks are disjoint by hash)
        return pd.DataFrame(
            {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib)}
        )

    from xml_to_parquet_spark.session import _ship_package

    _ship_package(df.sparkSession)
    return (
        rep.groupBy("bi", "bj")
        .applyInPandas(_gemm_pair, "id_a long, id_b long")
        .orderBy("id_a", "id_b")
    )


def _assign_sql(cents: dict[int, list[int]], vq_col: str) -> str:
    """Nearest-centroid-id expression as ONE parseable SQL string.

    Building this with Column objects costs a py4j round trip per literal
    (k centroids × dim components each) — measured seconds of driver time
    per call at even modest k×dim; a single ``expr`` parse is constant.
    Semantics identical: integer squared-L2 per centroid, ``array_min``
    over (distance, cid) structs = min distance with ties to smaller cid.
    """
    choices = []
    for cid in sorted(cents):
        arr = "array(" + ",".join(f"{c}L" for c in cents[cid]) + ")"
        d = (
            f"aggregate(zip_with({vq_col}, {arr},"
            " (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        )
        choices.append(f"struct({d} AS d, {cid} AS cid)")
    return f"array_min(array({', '.join(choices)})).cid"


def _tdiv(a: int, n: int) -> int:
    """Truncation-toward-zero integer division — SQL `//`/`div` semantics
    (Python's ``//`` floors, which differs on negative sums)."""
    q = abs(a) // n
    return q if a >= 0 else -q


def kmeans_assign_quantized(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = HYPERPLANE_QUANT,
    until_converged: bool = False,
    max_iterations: int = 20,
) -> DataFrame:
    """Lloyd k-means over quantized integer vectors → (id, cell) after
    ``iterations`` assignment passes (centroids update between passes).

    This is the centroid-refinement step the IVF index (``ivf_topk``)
    deliberately deferred: hash-seeded init (the k smallest ids), then
    assign/update rounds. EVERYTHING is integer arithmetic — vectors
    quantized via ``quantize_vec``, distances are integer squared-L2, the
    update is a truncating integer mean — so the trained assignment is
    bit-reproducible in any engine (the DuckDB oracle replays the identical
    rounds; ties break to the smaller centroid id).

    Scale shape (per iteration):
    - assignment: centroids are a driver-held model (k×dim ints, broadcast
      into the plan as literals) — pure map, no shuffle;
    - update: posexplode + map-side-combined groupBy(cell, pos) → k×dim
      rows collected to the driver (model-sized, independent of corpus);
    empty cells keep their previous centroid. iterations × 2 jobs total.

    ``until_converged`` (production variant): iterate up to
    ``max_iterations``, stopping as soon as a round's update rows equal
    the previous round's — same sums ⇒ identical new centroids ⇒ the
    assignment reached a fixed point. The probe is FREE: it hashes the
    k×dim update rows the round already collects (the q77 star-contraction
    checksum pattern), no extra job. Fixed ``iterations`` stays the
    default so the DuckDB oracle can replay exact rounds.
    """
    cents = _kmeans_train_cents(
        df, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col,
        quant=quant, until_converged=until_converged,
        max_iterations=max_iterations,
    )
    # final assignment rebuilt from the SOURCE (the trainer's cache is
    # unpersisted): final centroids are baked in as literals
    return (
        df.select(
            F.col(id_col).alias("id"),
            quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
        )
        .withColumn("cell", F.expr(_assign_sql(cents, "vq")))
        .select(F.col("id").alias(id_col), "cell")
    )


def _kmeans_train_cents(
    df: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    quant: int,
    until_converged: bool = False,
    max_iterations: int = 20,
) -> dict[int, list[int]]:
    """The training half of :func:`kmeans_assign_quantized`, factored so
    the multi-probe assignment (:func:`kmeans_probe_quantized`) reuses
    the identical rounds — same seeds, same truncating integer mean,
    same tie rule — and therefore trains the same centroids."""
    # persisted: the quantized corpus feeds iterations×2 jobs (assignment
    # + update) — without the cache each job re-reads and re-quantizes.
    # UNPERSISTED before return: the returned assignment is rebuilt from
    # the source (one extra map-only quantize pass on consumption), so no
    # cache outlives the call on a shared session.
    def quantized(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(id_col).alias("id"),
            quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
        )

    base = quantized(df).persist()

    def assign_col() -> Column:
        # one expr parse instead of k×dim py4j literal calls (_assign_sql)
        return F.expr(_assign_sql(cents, "vq"))

    try:
        cents = {
            int(r["id"]): [int(x) for x in r["vq"]]
            for r in base.filter(F.col("id") < k).collect()
        }
        if not cents:
            raise ValueError(
                f"kmeans_assign_quantized: no seed vectors with {id_col} < "
                f"{k} (empty input or non-dense ids) — pass a k matching "
                "the data"
            )
        n_updates = (max_iterations if until_converged else iterations) - 1
        prev_key = None
        for _ in range(n_updates):
            sums = (
                base.withColumn("cell", assign_col())
                .select("cell", F.posexplode("vq").alias("pos", "q"))
                .groupBy("cell", "pos")
                .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            if until_converged:
                key = hash(
                    tuple(
                        sorted(
                            (int(r["cell"]), int(r["pos"]),
                             int(r["s"]), int(r["n"]))
                            for r in sums
                        )
                    )
                )
                if key == prev_key:
                    break  # fixed point: same sums ⇒ same centroids
                prev_key = key
            new_cents: dict[int, list[int]] = {}
            for r in sums:
                new_cents.setdefault(
                    int(r["cell"]), [0] * len(cents[min(cents)])
                )[int(r["pos"])] = _tdiv(int(r["s"]), int(r["n"]))
            for cid in cents:  # empty cells keep their previous centroid
                if cid not in new_cents:
                    new_cents[cid] = cents[cid]
            cents = new_cents
    finally:
        base.unpersist()
    return cents


def _probe_sql(cents: dict[int, list[int]], vq_col: str, n_probe: int) -> str:
    """Top-``n_probe`` nearest-centroid ids as ONE parseable SQL string
    (array of cids ordered by (distance asc, cid asc)) — the multi-probe
    sibling of :func:`_assign_sql`; element 1 is the primary cell."""
    choices = []
    for cid in sorted(cents):
        arr = "array(" + ",".join(f"{c}L" for c in cents[cid]) + ")"
        d = (
            f"aggregate(zip_with({vq_col}, {arr},"
            " (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        )
        choices.append(f"struct({d} AS d, {cid} AS cid)")
    return (
        f"transform(slice(array_sort(array({', '.join(choices)})), 1, "
        f"{n_probe}), s -> s.cid)"
    )


def kmeans_probe_quantized(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = HYPERPLANE_QUANT,
) -> DataFrame:
    """Multi-probe k-means assignment: train the SAME centroids as
    :func:`kmeans_assign_quantized` (shared trainer, bit-identical
    rounds), then assign every point to its ``n_probe`` nearest
    centroids instead of one. Returns ``(id_col, probe_rank, cell)``
    with probe_rank 0 = the primary cell (exactly the single-assignment
    cell — same distance expression, same tie rule).

    This is the SemDeDup boundary fix (VERDICT r8 #2): near-dup pairs
    straddling a cell boundary are invisible to single-assignment
    candidate generation; probing the top ``n_probe`` cells lets a
    boundary point meet its neighbors in the adjacent cell while
    candidate volume stays ∝ n_probe × Σ cell², far below all-pairs.
    Pure map over the corpus (centroids are plan literals) — the explode
    multiplies rows by n_probe, not the shuffle key space."""
    cents = _kmeans_train_cents(
        df, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col,
        quant=quant,
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
        )
        .select(
            "id",
            F.posexplode(F.expr(_probe_sql(cents, "vq", n_probe))).alias(
                "probe_rank", "cell"
            ),
        )
        .select(F.col("id").alias(id_col), "probe_rank", "cell")
    )


def pq_codes(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes — the compression step of a
    billion-scale IVF-PQ index: split each vector into ``m`` subvectors,
    fit integer-exact k-means per subspace, emit one (id, sub, cell) row
    per subspace (melted, per the engine's no-array-outputs oracle
    convention). A 64-dim float32 vector (256 B) compresses to m small
    codes; ANN distance then works off per-subspace lookup tables.

    Each subspace fit replays :func:`kmeans_assign_quantized`'s exact
    integer arithmetic (same seeding, truncating-mean updates, smaller-id
    tie-breaks), so codes are bit-reproducible in any engine — but the m
    fits are BATCHED: one seed collect covers every subspace, each
    refinement iteration is ONE combined stack→posexplode→groupBy job
    (m×k×(dim/m) rows — still model-sized), and the final assignment is
    ONE corpus scan emitting all m codes melted via ``stack``. Round-2
    plan audit noted the cost here was job count, not data volume: this
    takes 4 subspaces from 8 jobs to 2. At 100 TB: fit on a sample, then
    the single final scan assigns full-corpus with all m codebooks as
    plan literals — exactly the shape below.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    quant = HYPERPLANE_QUANT

    def quantized(src: DataFrame) -> DataFrame:
        arr = as_double_array(F.col(vec_col))
        return src.select(
            F.col(id_col).alias("id"),
            *[
                quantize_vec(F.slice(arr, s * sub + 1, sub), quant).alias(
                    f"vq_{s}"
                )
                for s in range(m)
            ],
        )

    base = quantized(df)
    seeds = base.filter(F.col("id") < k).collect()  # ONE job, all subspaces
    if not seeds:
        raise ValueError(
            f"pq_codes: no seed vectors with {id_col} < {k} "
            "(empty input or non-dense ids) — pass a k matching the data"
        )
    cents: dict[int, dict[int, list[int]]] = {
        s: {int(r["id"]): [int(x) for x in r[f"vq_{s}"]] for r in seeds}
        for s in range(m)
    }

    # assignment expression built as ONE SQL string per subspace: the
    # Column-object equivalent is m×k arrays of dim/m literals — thousands
    # of py4j round trips that measured ~4.5 s of pure driver time at
    # sf0.1 (the corpus itself is milliseconds); one parse call is free
    def assign_col(s: int) -> Column:
        return F.expr(_assign_sql(cents[s], f"vq_{s}"))

    if iterations > 1:
        base = base.persist()
    try:
        for _ in range(iterations - 1):
            # one combined update job: stack the m (cell, subvector)
            # pairs, melt positions, aggregate — m×k×(dim/m) output rows
            stack_args = ", ".join(
                f"{s}, cell_{s}, vq_{s}" for s in range(m)
            )
            sums = (
                base.select(
                    "*",
                    *[assign_col(s).alias(f"cell_{s}") for s in range(m)],
                )
                .select(
                    F.expr(
                        f"stack({m}, {stack_args}) AS (sub, cell, vq)"
                    )
                )
                .select("sub", "cell", F.posexplode("vq").alias("pos", "q"))
                .groupBy("sub", "cell", "pos")
                .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_cents: dict[int, dict[int, list[int]]] = {
                s: {} for s in range(m)
            }
            for r in sums:
                new_cents[int(r["sub"])].setdefault(
                    int(r["cell"]), [0] * sub
                )[int(r["pos"])] = _tdiv(int(r["s"]), int(r["n"]))
            for s in range(m):
                for cid in cents[s]:  # empty cells keep previous centroid
                    if cid not in new_cents[s]:
                        new_cents[s][cid] = cents[s][cid]
            cents = new_cents
    finally:
        if iterations > 1:
            base.unpersist()
    # final: ONE scan over the source, all m codebooks as literals
    cell_stack = ", ".join(f"{s}, cell_{s}" for s in range(m))
    return (
        quantized(df)
        .select(
            F.col("id"),
            *[assign_col(s).alias(f"cell_{s}") for s in range(m)],
        )
        .select(
            F.col("id").alias(id_col),
            F.expr(f"stack({m}, {cell_stack}) AS (sub, cell)"),
        )
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-label elementwise centroid over an array<float> column — the
    class-prototype / cluster-update step of embedding pipelines.

    Exactness strategy: float sums are order-dependent, so each component is
    quantized to an integer first — ``floor(v * quant + 0.5)`` — and summed
    as BIGINT (exact, commutative, partitioning-invariant); the centroid is
    recovered as sum/(quant·n). float→double widening, the multiply, and
    floor are all IEEE-deterministic, so every engine agrees bit-for-bit
    (plain float→decimal casts do NOT agree: Spark converts via the
    shortest decimal repr, DuckDB via binary expansion).

    Scale shape: posexplode is map-side (rows × dim), but map-side partial
    aggregation collapses each task's output to |labels|·dim rows before
    the single shuffle — shuffle bytes are independent of corpus size.

    Returns (label, pos, n, sum_q, centroid) — one row per label × dimension.
    """
    q = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("pos", "v"),
        )
        .withColumn(
            "vq",
            F.floor(F.col("v").cast("double") * F.lit(float(quant)) + F.lit(0.5))
            .cast("long"),
        )
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vq").alias("sum_q"))
    )
    return q.select(
        "label",
        "pos",
        "n",
        "sum_q",
        (F.col("sum_q").cast("double") / F.lit(float(quant)) / F.col("n")).alias(
            "centroid"
        ),
    )


def _int_l2_sql(vec_sql: str, comps: list[int]) -> str:
    """Integer squared-L2 between a quantized vector SQL expression and a
    literal component list, as one parseable expression (same py4j-
    avoidance rationale as ``_assign_sql``)."""
    arr = "array(" + ",".join(f"{c}L" for c in comps) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr},"
        " (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )


def ivf_pq_adc_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    dim: int = 64,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = HYPERPLANE_QUANT,
) -> DataFrame:
    """IVF-PQ with asymmetric-distance (ADC) search — the composition of
    ``ivf_topk`` (coarse cells) and ``pq_codes`` (per-subspace codebooks)
    into the billion-scale ANN query shape (VERDICT r5 item 4):

    1. one corpus scan assigns each vector its coarse cell AND its m PQ
       codes (coarse centroids + codebooks are hash-seeded model literals
       baked into the plan — at 100 TB they'd be fit on a sample first,
       same plan);
    2. each query probes its ``n_probe`` nearest cells and precomputes the
       m ADC lookup tables (distance from the query subvector to every
       codebook centroid) — pq_k·m integer folds per query row, done
       BEFORE the join so per-candidate work is m array lookups;
    3. candidates = equi-join on cell id (never all-pairs), ranked by the
       ADC distance Σ_s lut_s[code_s];
    4. the ``rerank`` best ADC candidates per query get an EXACT integer
       squared-L2 re-rank on full vectors → top-``k``.

    Everything is quantized-integer arithmetic (ties → smaller id), so the
    DuckDB oracle replays assignment, coding, ADC, and re-rank
    bit-for-bit. Direct PQ on raw vectors (not residuals) keeps the
    oracle simple; residual PQ changes the codebook fit, not this plan.

    Returns (query_id, neighbor_id, rank).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    base = df.select(
        F.col(id_col).alias("id"),
        quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
    )
    n_seed = max(n_centroids, pq_k)
    seeds = {
        int(r["id"]): [int(x) for x in r["vq"]]
        for r in base.filter(F.col("id") < n_seed).collect()  # model-sized
    }
    if len(seeds) < n_seed:
        raise ValueError(
            f"ivf_pq_adc_topk: need dense ids 0..{n_seed - 1} as seeds"
        )
    coarse = {i: seeds[i] for i in range(n_centroids)}
    books = [
        {i: seeds[i][s * sub : (s + 1) * sub] for i in range(pq_k)}
        for s in range(m)
    ]

    def sub_sql(s: int, vq_col: str = "vq") -> str:
        return f"slice({vq_col}, {s * sub + 1}, {sub})"

    # one corpus scan: coarse cell + m codes, all plan literals
    corpus = base.select(
        "id",
        "vq",
        F.expr(_assign_sql(coarse, "vq")).alias("cell"),
        *[
            F.expr(_assign_sql(books[s], sub_sql(s))).alias(f"code_{s}")
            for s in range(m)
        ],
    )

    # queries: n_probe nearest cells via sorted (distance, cid) structs —
    # no window, pure expressions over n_centroids literal distances
    probe_structs = ", ".join(
        f"struct({_int_l2_sql('vq', coarse[cid])} AS d, {cid} AS cid)"
        for cid in sorted(coarse)
    )
    lut_exprs = {
        f"lut_{s}": F.expr(
            "array("
            + ",".join(
                _int_l2_sql(sub_sql(s, "qvq"), books[s][cid])
                for cid in sorted(books[s])
            )
            + ")"
        )
        for s in range(m)
    }
    qprobed = (
        base.filter(F.col("id").isin([int(q) for q in query_ids]))
        .select(
            F.col("id").alias("query_id"),
            F.col("vq").alias("qvq"),
            F.explode(
                F.expr(
                    f"slice(array_sort(array({probe_structs})), 1, {n_probe})"
                )
            ).alias("pc"),
        )
        .select("query_id", "qvq", F.col("pc.cid").alias("cell"))
        .withColumns(lut_exprs)
    )

    cand = corpus.join(F.broadcast(qprobed), on="cell").filter(
        F.col("id") != F.col("query_id")
    )
    adc = None
    for s in range(m):
        term = F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("id").asc()
    )
    shortlist = (
        cand.withColumn("adc", adc)
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
    )
    exact_d = F.aggregate(
        F.zip_with(F.col("vq"), F.col("qvq"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("id").asc()
    )
    return (
        shortlist.withColumn("d", exact_d)
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("id").alias("neighbor_id"), "rank")
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1024,
    tau_num: int = 2,
    tau_den: int = 5,
    kernel: str = "gemm",
    n_probe: int = 1,
) -> DataFrame:
    """Semantic deduplication (the SemDeDup shape, Abbas et al. 2023):
    cluster the corpus with integer k-means, then WITHIN each cluster drop
    any document whose cosine similarity to a smaller-id clustermate is
    >= tau_num/tau_den. Returns one row per input id:
    ``(id, cell, keep, dup_of)`` where ``dup_of`` is the smallest
    qualifying clustermate id (NULL for kept rows).

    Exactness: vectors are quantized to integers (``quantize_vec``) and the
    threshold test is pure int64 arithmetic — ``cos(a,b) >= t`` iff
    ``dot>0 AND dot^2*tau_den^2 >= tau_num^2*|a|^2*|b|^2`` — so any engine
    replays the decision bit-for-bit (zero-norm vectors are never dups:
    cosine is undefined there). Caller contract for no-overflow:
    ``dim * quant^2 * tau_den <= 3e9`` (defaults: 64-dim, quant=1024,
    tau_den=5 → 3.4e8, comfortably inside int64 when squared).

    Scale shape (the reason SemDeDup works at 100 TB where all-pairs
    cannot): the only join is an equi-join on ``cell``, so candidate pairs
    are bounded by cluster sizes — pick k ∝ corpus size to hold clusters
    at a constant target size; a skewed (hot) cluster is split by AQE skew
    join. Centroids are a driver-held model broadcast as literals (see
    kmeans_assign_quantized); norms are computed once per row before the
    self-join. The per-pair HOF dot runs interpreted — so the default
    ``kernel="gemm"`` runs the pair stage as ONE int64 numpy gemm per
    cell inside applyInPandas (Arrow-batched, exact integer matmul; the
    embedding_neardup_pairs shape; measured ~4x the column-expr path at
    sf0.1, where the expr kernel's 16M interpreted lambda steps
    dominate). ``kernel="expr"`` keeps the pure-DataFrame pair join; a
    test pins the two kernels row-identical. Decision semantics are
    kernel-independent (both are exact int64).

    Multi-probe (``n_probe > 1``, VERDICT-r8 #2): SemDeDup's known
    failure mode is a near-dup pair straddling a cell boundary — the
    single-assignment candidate join never sees it (measured 0.33
    pair-recall at the catalog k=8 on near-isotropic embeddings). With
    multi-probe, every point enters the candidate join under its
    ``n_probe`` nearest cells (shared trainer ⇒ identical centroids;
    probe rank 0 IS the single-assignment cell, which is what the
    ``cell`` output column reports), a pair is a candidate when ANY
    probed cell is shared, and duplicated discoveries collapse through
    the same min-aggregation that already picks ``dup_of``. The
    verify stays int64-exact, so candidates remain a SUBSET of the true
    pair set — the no-false-drop invariant is preserved by construction;
    recall rises because the subset grows (measured 0.33 -> 0.95+ pair
    recall at k=8, n_probe=3; tools/ann_recall.py --semdedup). Cost is
    bounded: candidate volume ∝ n_probe² × Σ cell² in the worst case,
    still nowhere near all-pairs for k ≫ n_probe.

    Reference parity: the reference engine has no embedding ops at all
    (R/ core is XML→star ETL); this is part of the mandated
    training-data-pipeline surface (SURVEY §2.11 scale extensions).
    """
    if n_probe < 1:
        raise ValueError(f"semantic_dedup: n_probe must be >= 1, got {n_probe}")
    if n_probe == 1:
        cells = kmeans_assign_quantized(
            df, k=k, iterations=iterations, id_col=id_col,
            vec_col=vec_col, quant=quant,
        ).select(F.col(id_col).alias("id"), "cell")
    else:
        probes = kmeans_probe_quantized(
            df, k=k, iterations=iterations, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, quant=quant,
        ).select(F.col(id_col).alias("id"), "probe_rank", "cell")
        cells = probes.select("id", "cell")
        primary = probes.filter(F.col("probe_rank") == 0).select("id", "cell")
    vq = df.select(
        F.col(id_col).alias("id"),
        quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
    )
    int_dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    v = vq.join(cells, "id")
    t2n, d2n = tau_num * tau_num, tau_den * tau_den
    if kernel == "gemm":

        def _cell_dups(pdf):
            import numpy as np
            import pandas as pd

            empty = pd.DataFrame(
                {"id": pd.Series(dtype="int64"),
                 "dup_of": pd.Series(dtype="int64")}
            )
            if len(pdf) < 2:
                return empty
            ids = pdf["id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.stack(pdf["vq"].to_numpy()[order]).astype(np.int64)
            G = V @ V.T  # exact: caller overflow contract (docstring)
            nn = np.diagonal(G).copy()
            ok = (
                (G > 0)
                & (nn[:, None] > 0)
                & (nn[None, :] > 0)
                & (G * G * d2n >= t2n * nn[:, None] * nn[None, :])
            )
            iu = np.triu_indices(len(ids), 1)
            m = ok[iu]
            if not m.any():
                return empty
            hit = pd.DataFrame(
                {"id": ids[iu[1][m]], "dup_of": ids[iu[0][m]]}
            )
            out = hit.groupby("id", as_index=False)["dup_of"].min()
            return out.astype({"id": "int64", "dup_of": "int64"})

        from xml_to_parquet_spark.session import _ship_package

        _ship_package(df.sparkSession)
        pairs = v.groupBy("cell").applyInPandas(
            _cell_dups, "id long, dup_of long"
        )
    elif kernel == "expr":
        vn = v.withColumn("nn", int_dot(F.col("vq"), F.col("vq")))
        a = vn.select(
            F.col("id").alias("ia"), F.col("cell"),
            F.col("vq").alias("vqa"), F.col("nn").alias("na"),
        )
        b = vn.select(
            F.col("id").alias("ib"), F.col("cell"),
            F.col("vq").alias("vqb"), F.col("nn").alias("nb"),
        )
        dab = int_dot(F.col("vqa"), F.col("vqb"))
        t2 = F.lit(t2n).cast("long")
        d2 = F.lit(d2n).cast("long")
        pairs = (
            a.join(b, "cell")
            .filter(F.col("ia") < F.col("ib"))
            .withColumn("dab", dab)
            .filter(
                (F.col("na") > 0) & (F.col("nb") > 0) & (F.col("dab") > 0)
                & (F.col("dab") * F.col("dab") * d2
                   >= t2 * F.col("na") * F.col("nb"))
            )
            .groupBy(F.col("ib").alias("id"))
            .agg(F.min("ia").alias("dup_of"))
        )
    else:
        raise ValueError(f"semantic_dedup: unknown kernel {kernel!r}")
    if n_probe > 1:
        # a pair discovered under two shared probe cells (or a dup with
        # qualifying mates in different cells) collapses to one row with
        # the global smallest dup_of; base rows are the PRIMARY cells so
        # the output stays one-row-per-id with the single-assign cell
        pairs = pairs.groupBy("id").agg(F.min("dup_of").alias("dup_of"))
        base_cells = primary
    else:
        base_cells = v.select("id", "cell")
    return (
        base_cells
        .join(pairs, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection (r9): reduce array<float>
# embeddings to a few integer components with a deterministic ±1 matrix.
# ---------------------------------------------------------------------------

def jl_sign_matrix(
    in_dim: int, out_dim: int, seed: str = "jl-v1"
) -> list[list[int]]:
    """Deterministic ±1 projection matrix, one row per OUTPUT component:
    sign(j, k) = +1 iff the first hex nibble of md5('{seed}:{j}:{k}') is
    even. md5 is engine-independent, so any engine (or the SQL oracle)
    regenerates the identical matrix; Achlioptas (2001/2003) showed
    ±1-Rademacher entries satisfy the JL lemma with the same guarantees
    as Gaussian matrices."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(
                f"{seed}:{j}:{k}".encode()
            ).hexdigest()[0] in "02468ace"
            else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
    seed: str = "jl-v1",
) -> DataFrame:
    """Project quantized embeddings onto ``out_dim`` ±1 JL directions —
    the dimensionality-reduction front end for ANN/dedup at scale
    (distance-preserving to (1±ε) with out_dim = O(log n / ε²);
    downstream cosine is scale-invariant, so the raw integer sums are
    kept un-normalized and EXACT).

    Plan shape: the matrix is a plan literal (model-sized, like k-means
    centroids / BPE merges), each output component one
    aggregate(zip_with(...)) expression over the quantized vector —
    MAP-ONLY, zero shuffles, zero joins, whole-stage codegen; at 100 TB
    the projection runs at scan speed and the result is 8 BIGINTs/row
    instead of 64 floats (the IVF/LSH build then operates on 1/8 the
    bytes). Quantization is the shared floor(v·quant + 0.5) rule, so
    sums are exact integers any engine reproduces bit-for-bit.

    Returns ``(id, p0 .. p{out_dim-1})`` BIGINT columns. ``in_dim`` must
    match the array length (zip_with would silently zero-pad a mismatch,
    so it is asserted per row instead)."""
    mat = jl_sign_matrix(in_dim, out_dim, seed)
    qv = (
        f"transform({vec_col}, v -> "
        f"CAST(FLOOR(CAST(v AS DOUBLE) * {float(quant)} + 0.5d) AS BIGINT))"
    )
    cols = [F.col(id_col).alias("id")]
    for k in range(out_dim):
        signs = "array(" + ",".join(f"{s}L" for s in mat[k]) + ")"
        cols.append(
            F.expr(
                f"aggregate(zip_with({qv}, {signs}, (x, s) -> x * s), "
                f"0L, (acc, x) -> acc + x)"
            ).alias(f"p{k}")
        )
    guarded = df.filter(
        F.assert_true(
            F.size(vec_col) == in_dim,
            f"jl_project: expected {vec_col} of length {in_dim}",
        ).isNull()
    )
    return guarded.select(*cols)


def jl_project_sql(
    table: str = "embeddings",
    in_dim: int = 64,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
    seed: str = "jl-v1",
    order: bool = True,
) -> str:
    """Oracle twin of :func:`jl_project` — same quantization, the same
    python-generated literal matrix as an inline VALUES table."""
    mat = jl_sign_matrix(in_dim, out_dim, seed)
    values = ",".join(
        f"({j},{k},{mat[k][j]})"
        for k in range(out_dim)
        for j in range(in_dim)
    )
    pcols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN k = {k} THEN val END) AS BIGINT) AS p{k}"
        for k in range(out_dim)
    )
    sql = f"""
WITH q AS (
  SELECT {id_col} AS id,
         generate_subscripts({vec_col}, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest({vec_col}) AS DOUBLE) * {float(quant)}
              + 0.5) AS BIGINT) AS vq
  FROM {table}
),
m(pos, k, sgn) AS (SELECT * FROM (VALUES {values})),
p AS (
  SELECT id, k, SUM(vq * sgn) AS val
  FROM q JOIN m USING (pos) GROUP BY id, k
)
SELECT id, {pcols}
FROM p GROUP BY id
"""
    if order:
        sql += "ORDER BY id"
    return sql


def jl_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_candidates: int = 40,
    in_dim: int = 64,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
    seed: str = "jl-v1",
) -> DataFrame:
    """Two-stage ANN: JL-projected integer L2 prefilter → exact
    quantized-L2 re-rank — what :func:`jl_project` is FOR. Stage 1
    scores every corpus point against each query in the 8-component
    projected space (8× fewer multiply-adds than the raw dimension, and
    at scale the projected table is what you index/bucket); the top
    ``n_candidates`` per query (deterministic ties: distance, then id)
    go to stage 2, which re-ranks them by exact quantized L2 on the
    original vectors. Both stages are pure int64, so the SQL oracle is
    bit-exact; recall vs the exact top-k is a measured property (see
    tests/SCALING), governed by n_candidates — the JL lemma bounds the
    distortion, more candidates buy back the tail.

    Plan shape: queries are a broadcast side (|Q| rows); stage 1 is a
    broadcast nested-loop over the projected corpus with a
    WindowGroupLimit top-C; stage 2 joins the C·|Q| candidate ids back
    to the corpus (equi-join on id) for exact vectors. Corpus is
    scanned twice but never self-joined; the heavy side never
    shuffles more than C·|Q| rows.

    QUERY-VOLUME CONTRACT (r10): stage 1 is corpus×|Q| work — the right
    tool for a HANDFUL of ad-hoc queries (zero model fit). Past the
    measured crossover (|Q| between 64 and 256 on the sf0.1 corpus —
    SCALING.md "ANN dispatch crossover", and lower on bigger corpora)
    ``ivf_pq_adc_topk``'s fixed fit amortizes and wins; use
    :func:`ann_topk_auto` to dispatch by |Q| automatically."""
    proj = jl_project(
        df, in_dim=in_dim, out_dim=out_dim, vec_col=vec_col,
        id_col=id_col, quant=quant, seed=seed,
    )
    pcols = [f"p{i}" for i in range(out_dim)]
    qproj = proj.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in pcols],
    )
    jl_dist = sum(
        (F.col(f"q_{c}") - F.col(c)) * (F.col(f"q_{c}") - F.col(c))
        for c in pcols
    ).alias("jl_dist")
    from pyspark.sql import Window

    w1 = Window.partitionBy("query_id").orderBy(
        F.col("jl_dist").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        proj.join(F.broadcast(qproj), F.col("query_id") != F.col("id"))
        .select("query_id", F.col("id").alias("neighbor_id"), jl_dist)
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= n_candidates)
        .drop("rn", "jl_dist")
    )
    qv = F.expr(
        f"transform({vec_col}, v -> "
        f"CAST(FLOOR(CAST(v AS DOUBLE) * {float(quant)} + 0.5d) AS BIGINT))"
    )
    quantized = df.select(F.col(id_col).alias("nid"), qv.alias("vq"))
    qvec = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), qv.alias("qq")
    )
    exact = F.expr(
        "aggregate(zip_with(qq, vq, (a, b) -> (a - b) * (a - b)), "
        "0L, (acc, x) -> acc + x)"
    ).alias("dist")
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(quantized, F.col("neighbor_id") == F.col("nid"))
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", exact)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
        .orderBy("query_id", "rank")
    )


def jl_ann_topk_sql(
    table: str = "embeddings",
    query_max: int = 10,
    k: int = 5,
    n_candidates: int = 40,
    in_dim: int = 64,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1_000_000,
    seed: str = "jl-v1",
) -> str:
    """Oracle twin of :func:`jl_ann_topk` for query_ids=range(query_max)
    — same matrix, same two-stage integer distances, same tie-breaks."""
    mat = jl_sign_matrix(in_dim, out_dim, seed)
    values = ",".join(
        f"({j},{kk},{mat[kk][j]})"
        for kk in range(out_dim)
        for j in range(in_dim)
    )
    return f"""
WITH q AS (
  SELECT {id_col} AS id,
         generate_subscripts({vec_col}, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest({vec_col}) AS DOUBLE) * {float(quant)}
              + 0.5) AS BIGINT) AS vq
  FROM {table}
),
m(pos, kk, sgn) AS (SELECT * FROM (VALUES {values})),
proj AS (
  SELECT id, kk, SUM(vq * sgn) AS val
  FROM q JOIN m USING (pos) GROUP BY id, kk
),
jl AS (
  SELECT a.id AS query_id, b.id AS neighbor_id,
         SUM((a.val - b.val) * (a.val - b.val)) AS jl_dist
  FROM proj a JOIN proj b ON a.kk = b.kk AND a.id != b.id
  WHERE a.id < {query_max}
  GROUP BY a.id, b.id
),
cand AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY jl_dist ASC, neighbor_id ASC) AS rn
  FROM jl
),
exact AS (
  SELECT c.query_id, c.neighbor_id,
         SUM((qa.vq - qb.vq) * (qa.vq - qb.vq)) AS dist
  FROM cand c
  JOIN q qa ON qa.id = c.query_id
  JOIN q qb ON qb.id = c.neighbor_id AND qb.pos = qa.pos
  WHERE c.rn <= {n_candidates}
  GROUP BY c.query_id, c.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, CAST(dist AS BIGINT) AS dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dist ASC, neighbor_id ASC) AS INT) AS rank
  FROM exact
)
SELECT query_id, neighbor_id, dist, rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def ann_topk_auto(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    jl_max_queries: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    **kwargs,
) -> DataFrame:
    """Pick the ANN engine from the QUERY VOLUME (r10, VERDICT r9 item 5
    — the ``fuzzy_pairs_auto`` idiom applied to retrieval).

    :func:`jl_ann_topk`'s stage 1 is a broadcast nested-loop of the
    projected corpus against |Q| queries — corpus×|Q| integer folds with
    zero model fit, unbeatable for a handful of ad-hoc queries but linear
    in |Q|. :func:`ivf_pq_adc_topk` pays a fixed model cost (coarse
    centroids + codebooks collected as plan literals, one corpus
    scan to assign cells/codes) after which per-query work is ~cells
    probed, so it wins once |Q| amortizes the fit. Measured crossover on
    this box (sf0.1 embeddings, 5k×64d — see SCALING.md "ANN dispatch
    crossover"): JL wins up to the low hundreds of queries; the default
    ``jl_max_queries=64`` stays comfortably on JL's side of the measured
    boundary while bounding stage-1 candidate volume (C·|Q|) regardless
    of corpus size.

    Unlike ``fuzzy_pairs_auto`` (whose variants are result-identical),
    the two engines differ in APPROXIMATION STRUCTURE (JL distortion vs
    PQ quantization), so the recall tail can differ; both end in an
    exact integer re-rank of their candidates. Output is normalized to
    the common contract (query_id, neighbor_id, rank).

    Engine-specific options (ADVICE r10: forwarding the same ``**kwargs``
    to whichever engine |Q| picked made e.g. ``out_dim=...`` raise
    TypeError the moment the query count crossed ``jl_max_queries``) are
    routed by signature: each key goes only to the engine(s) that accept
    it, so dispatch never changes which arguments are legal. A key
    neither engine accepts raises ValueError up front (typos don't get
    silently dropped), and a key only the NON-chosen engine accepts is
    warned about (ADVICE r11: a tuning knob like ``out_dim`` quietly
    stopping to have any effect the moment |Q| crosses
    ``jl_max_queries`` can mask a caller relying on it)."""
    import inspect
    import warnings

    jl_params = set(inspect.signature(jl_ann_topk).parameters)
    ivf_params = set(inspect.signature(ivf_pq_adc_topk).parameters)
    unknown = set(kwargs) - jl_params - ivf_params
    if unknown:
        raise ValueError(
            f"ann_topk_auto: options {sorted(unknown)} are accepted by "
            f"neither jl_ann_topk nor ivf_pq_adc_topk"
        )

    def _warn_dropped(chosen: str, accepted: set[str]) -> None:
        dropped = sorted(set(kwargs) - accepted)
        if dropped:
            warnings.warn(
                f"ann_topk_auto: dispatch chose {chosen} for "
                f"|Q|={len(query_ids)} (jl_max_queries={jl_max_queries}); "
                f"options {dropped} apply only to the other engine and "
                f"are inert in this regime",
                stacklevel=2,
            )

    if len(query_ids) <= jl_max_queries:
        _warn_dropped("jl_ann_topk", jl_params)
        out = jl_ann_topk(
            df, query_ids, k=k, id_col=id_col, vec_col=vec_col,
            in_dim=dim,
            **{k_: v for k_, v in kwargs.items() if k_ in jl_params},
        )
        return out.select("query_id", "neighbor_id", "rank")
    _warn_dropped("ivf_pq_adc_topk", ivf_params)
    return ivf_pq_adc_topk(
        df, query_ids, k=k, id_col=id_col, vec_col=vec_col, dim=dim,
        **{k_: v for k_, v in kwargs.items() if k_ in ivf_params},
    ).select("query_id", "neighbor_id", "rank")


SIGN_SIG_SCHEMA = "id long, sig long"


def sign_signature_batch(
    df: DataFrame,
    n_planes: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = HYPERPLANE_QUANT,
) -> DataFrame:
    """Binary sign signatures for embeddings (r10): bit p = (q(v) ·
    q(plane_p)) ≥ 0 over the same md5-seeded quantized hyperplanes as
    ``lsh_bucket`` — but 64 of them, packed into ONE int64 per vector
    (bit 63 lands in the sign bit via two's complement). This is the
    binary-embedding compression standard first-stage retrieval uses:
    64 bits replace 256 bytes of float32, Hamming distance approximates
    angle, and the signature table joins/blocks like any fixed-width
    key.

    Computed in a numpy Arrow kernel (one int64 matmul per batch —
    4096 interpreted JVM ops per row would dwarf the JVM expression
    path at this plane count), yet bit-exactly replayable in SQL: the
    quantization floor(v·Q + 0.5) is IEEE-deterministic in float64 and
    the per-plane integer dot products stay far inside int64
    (|q(v)·q(p)| ≤ dim·quant² ≈ 2^46)."""
    import numpy as np

    if n_planes < 1 or n_planes > 64:
        raise ValueError(f"n_planes must be in [1, 64], got {n_planes}")
    planes = np.array(
        hyperplane_components_q(n_planes, dim, quant), dtype=np.int64
    )  # (n_planes, dim)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            vecs = np.stack(
                [
                    np.floor(
                        np.asarray(v, dtype=np.float64) * float(quant) + 0.5
                    ).astype(np.int64)
                    for v in pdf[vec_col]
                ]
            )  # (n, dim)
            if vecs.shape[1] != dim:
                raise ValueError(
                    f"sign_signature_batch: vector length {vecs.shape[1]} "
                    f"!= dim {dim}"
                )
            bits = (vecs @ planes.T >= 0).astype(np.uint64)  # (n, n_planes)
            sigs = (bits * weights).sum(axis=1, dtype=np.uint64).view(
                np.int64
            )
            yield pd.DataFrame(
                {"id": pdf[id_col].astype("int64"), "sig": sigs}
            )

    from xml_to_parquet_spark.session import _ship_package

    _ship_package(df.sparkSession)
    return df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(_run, SIGN_SIG_SCHEMA)


# Measured recall@5 vs candidate budget for hamming_ann_topk (sf0.01,
# near-isotropic fixture — the documented WORST case for any 64-bit
# code; SCALING.md "Binary-ANN recall@5 vs candidate budget"):
#   C        8     16    32    64    128
#   recall   0.22  0.30  0.52  0.68  0.86
# Default = 32, the marginal-recall knee of that curve (+0.22 recall for
# the 16->32 doubling = 0.014/candidate, vs 0.005/candidate on either
# side); on CLUSTERED corpora (real embedding geometry) recall@5 >= 0.8
# already at C=12 and saturates by C=32. Raise toward 128 only when the
# corpus is known near-isotropic — stage-2 exact re-rank cost is C*|Q|,
# linear in this knob.
HAMMING_ANN_DEFAULT_CANDIDATES = 32


def hamming_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_candidates: int = HAMMING_ANN_DEFAULT_CANDIDATES,
    n_planes: int = 64,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = HYPERPLANE_QUANT,
) -> DataFrame:
    """Two-stage binary ANN (r10) — the FAISS IndexBinaryFlat+refine
    shape: stage 1 scans the SIGNATURE table (8 bytes/vector — 32×
    smaller than the float32 rows) computing one popcount per
    (corpus point, query) and keeps the ``n_candidates`` Hamming-nearest
    per query; stage 2 re-ranks those candidates by EXACT quantized L2
    on the full vectors → top-``k``.

    Why a scan and not the pigeonhole chunk blocker the dedup family
    uses: pigeonhole only prunes for radii well under bits/#chunks
    (8-bit chunks → radius ≤ 7), which serves NEAR-DUPLICATE retrieval;
    general ANN on this corpus lives at Hamming 14–20 (measured — see
    the catalog entry), where a 64-bit multi-index admits everything.
    The honest scale path is exactly what binary codes are FOR:
    xor+popcount over fixed-width ints is the cheapest possible linear
    scan (map-only, WindowGroupLimit top-C before any shuffle), and the
    32× smaller scan input is the win. Deterministic ties (hamming →
    id; dist → id); both stages integer, so the oracle replays
    bit-for-bit.

    RECALL CONTRACT (r11, comparable to :func:`jl_ann_topk`'s): recall
    vs the exact top-k is governed by ``n_candidates``; the default is
    pinned to the measured isotropic-worst-case curve's knee (see
    ``HAMMING_ANN_DEFAULT_CANDIDATES`` above — 0.52 @ C=32 isotropic,
    >=0.8 @ C=12 clustered). QUERY-VOLUME CONTRACT: |Q| rides the
    broadcast side like ``jl_ann_topk`` — same few-queries contract,
    ``ann_topk_auto``'s engines cover the large-|Q| regime."""
    sig = sign_signature_batch(
        df, n_planes=n_planes, dim=dim, id_col=id_col,
        vec_col=vec_col, quant=quant,
    )
    qsig = sig.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("query_id"), F.col("sig").alias("qsig")
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        sig.join(F.broadcast(qsig), F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig")))
            .cast("int")
            .alias("hamming"),
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= n_candidates)
        .drop("rn")
    )
    qv = F.expr(
        f"transform({vec_col}, v -> "
        f"CAST(FLOOR(CAST(v AS DOUBLE) * {float(quant)} + 0.5d) AS BIGINT))"
    )
    quantized = df.select(F.col(id_col).alias("nid"), qv.alias("vq"))
    qvec = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), qv.alias("qq")
    )
    dist = F.expr(
        "aggregate(zip_with(qq, vq, (a, b) -> (a - b) * (a - b)), "
        "0L, (acc, x) -> acc + x)"
    ).alias("dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(quantized, F.col("neighbor_id") == F.col("nid"))
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", "hamming", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "dist", "rank")
    )


# ---------------------------------------------------------------------------
# MMR diversified selection (greedy maximal marginal relevance)
# ---------------------------------------------------------------------------


def mmr_select(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: int = 0,
    k: int = 8,
    lam_num: int = 1,
    lam_den: int = 2,
    quant: int = 1024,
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection (Carbonell &
    Goldstein, SIGIR'98) over inner-product similarity — the diverse
    data-selection primitive of training pipelines ("pick k docs that
    are relevant to the query but not redundant with each other").
    Round r picks the unselected row maximizing

        ``lam_den·rel(i) − lam_num·maxdot(i)``

    where ``rel(i) = ⟨v_i, v_query⟩``, ``maxdot(i) = max(0,
    max_{s∈selected} ⟨v_i, v_s⟩)`` (the 0 floor doubles as the empty-set
    convention), ties broken by id. The query row anchors relevance but
    is excluded from the candidates. Vectors are quantized once
    (:func:`quantize_vec`: exact in any engine), every dot is int64,
    and selection order is therefore fully deterministic — the DuckDB
    oracle replays all k rounds by unrolling them
    (:func:`mmr_select_sql`), proving the greedy loop itself.

    Scale shape: greedy MMR is inherently sequential in k, but each
    round is ONE distributed argmax (TakeOrdered(1) — per-partition
    top-1, no shuffle) plus a column update against the newly selected
    vector (a driver-held literal, the same model-broadcast pattern as
    the k-means centroids). Cost is k scans of (id, vq, rel, maxdot);
    the running maxdot is localCheckpointed each round so round r never
    replays rounds 1..r-1. No pairwise join ever forms — redundancy is
    always measured against the ≤ k selected vectors only.

    Overflow contract: ``dim · (quant·max|v|)² ≤ 2^53`` keeps every dot
    exact in both int64 and the oracle's double (defaults: 64-dim,
    quant=1024, |v| ≲ 1 → ~6.7e7).

    Returns ``(vec_id, rk, rel_dot, max_sel_dot, score)`` ordered by
    selection rank."""
    base = df.select(
        F.col(id_col).alias("vec_id"),
        quantize_vec(as_double_array(F.col(vec_col)), quant).alias("vq"),
    )
    qrow = base.filter(F.col("vec_id") == query_id).collect()
    if not qrow:
        raise ValueError(f"query_id {query_id} not found in {id_col}")
    qv = [int(x) for x in qrow[0]["vq"]]
    # the query anchors relevance but is not itself a candidate (it
    # would trivially win round 1 with rel = |q|²)
    base = base.filter(F.col("vec_id") != query_id)

    def _dot_lit(vec: list[int]) -> Column:
        arr = F.array(*[F.lit(x) for x in vec])
        return F.aggregate(
            F.zip_with("vq", arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    work = base.select(
        "vec_id",
        "vq",
        _dot_lit(qv).cast("long").alias("rel"),
        F.lit(0).cast("long").alias("maxdot"),
    ).localCheckpoint(eager=False)

    spark = df.sparkSession
    picked: list[tuple] = []
    picked_ids: list[int] = []
    for rk in range(1, k + 1):
        score = (
            F.lit(lam_den) * F.col("rel") - F.lit(lam_num) * F.col("maxdot")
        ).alias("score")
        cand = work
        if picked_ids:
            cand = cand.filter(~F.col("vec_id").isin(picked_ids))
        rows = (
            cand.select("vec_id", "vq", "rel", "maxdot", score)
            .orderBy(F.desc("score"), "vec_id")
            .limit(1)
            .collect()
        )
        if not rows:
            break  # corpus exhausted before k picks
        r = rows[0]
        picked.append(
            (int(r["vec_id"]), rk, int(r["rel"]), int(r["maxdot"]),
             int(r["score"]))
        )
        picked_ids.append(int(r["vec_id"]))
        sel_vq = [int(x) for x in r["vq"]]
        work = work.select(
            "vec_id",
            "vq",
            "rel",
            F.greatest(F.col("maxdot"), _dot_lit(sel_vq).cast("long"))
            .cast("long")
            .alias("maxdot"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        picked,
        "vec_id long, rk int, rel_dot long, max_sel_dot long, score long",
    ).orderBy("rk")


def mmr_select_sql(
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: int = 0,
    k: int = 8,
    lam_num: int = 1,
    lam_den: int = 2,
    quant: int = 1024,
) -> str:
    """Unrolled-round DuckDB replay of :func:`mmr_select`: one CTE
    chain per greedy round (pick → accumulate maxdot → exclude), all
    arithmetic on the same exact integers (dots ≤ 2^53 are exact in
    DuckDB's double list_dot_product).

    The round CTEs are ``MATERIALIZED``: ``w{r}`` reads ``w{r-1}`` both
    directly and through ``s{r}``, so an inlined chain doubles its work
    every round (2^k)."""
    qexpr = (
        f"list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE) * "
        f"{float(quant)!r} + 0.5) AS BIGINT))"
    )
    parts = [
        f"base AS (SELECT {id_col} AS vec_id, {qexpr} AS vq FROM {table})",
        f"qv AS (SELECT vq AS qq FROM base WHERE vec_id = {query_id})",
        "w0 AS MATERIALIZED (SELECT b.vec_id, b.vq, "
        "CAST(list_dot_product(b.vq, q.qq) AS BIGINT) AS rel, "
        "CAST(0 AS BIGINT) AS maxdot FROM base b, qv q"
        f" WHERE b.vec_id <> {query_id})",
        "p0 AS MATERIALIZED "
        "(SELECT CAST(NULL AS BIGINT) AS vec_id WHERE 1 = 0)",
    ]
    for r in range(1, k + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT vec_id, vq, rel, maxdot, "
            f"{lam_den} * rel - {lam_num} * maxdot AS score "
            f"FROM w{r - 1} WHERE vec_id NOT IN "
            f"(SELECT vec_id FROM p{r - 1}) "
            f"ORDER BY score DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id FROM p{r - 1} "
            f"UNION ALL SELECT vec_id FROM s{r})"
        )
        if r < k:
            parts.append(
                f"w{r} AS MATERIALIZED (SELECT w.vec_id, w.vq, w.rel, "
                f"greatest(w.maxdot, CAST(list_dot_product(w.vq, s.vq) "
                f"AS BIGINT)) AS maxdot FROM w{r - 1} w, s{r} s)"
            )
    finals = " UNION ALL ".join(
        f"SELECT vec_id, CAST({r} AS INT) AS rk, rel AS rel_dot, "
        f"maxdot AS max_sel_dot, CAST(score AS BIGINT) AS score FROM s{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{finals} ORDER BY rk"


def embedding_diversity(
    df: DataFrame,
    vec_col: str = "embedding",
    group_cols: Sequence[str] = ("label",),
    quant: int = 1024,
) -> DataFrame:
    """Per-group embedding diversity WITHOUT a pairwise join: the mean
    squared distance over all ordered pairs i≠j satisfies the moment
    identity Σ_{i,j}‖x_i−x_j‖² = 2n·Σ‖x_i‖² − 2‖Σx_i‖², so collapse
    risk (mode collapse, near-duplicate floods, a source feeding the
    same template) is measurable from TWO moments computed in one
    pass — where the naive estimator is an O(n²) self-join.

    Exact arithmetic: vectors are quantized to int64
    (:func:`quantize_vec`, IEEE-deterministic), every sum is integer,
    and the mean is one integer floor-division — the DuckDB twin
    replays it bit-for-bit. The reported ``mean_sqdist_q2`` is in
    quantized units² (divide by quant² for cosine-space magnitude);
    groups with n ≤ 1 return NULL (no pairs to speak for).

    Scale shape: one posexplode shuffle of n·dim rows into a
    (group, dim) partial agg, then a group-level fold — both stages
    map-side combinable; the group count joins in broadcast. BIGINT
    bounds hold to ~10⁹ rows·dim at quant=1024 (2n·Σ‖q‖² is the
    widest term); swap the two sums to DECIMAL(38,0) beyond that.

    Returns ``(group_cols…, n, dim, mean_sqdist_q2)`` ordered.
    """
    gcols = list(group_cols)
    q = quantize_vec(F.col(vec_col), quant)
    exploded = df.select(
        *gcols, F.posexplode(q).alias("__pos", "__v")
    )
    per_dim = exploded.groupBy(*gcols, "__pos").agg(
        F.sum("__v").alias("__s1"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ssq"),
    )
    moments = per_dim.groupBy(*gcols).agg(
        F.sum("__ssq").alias("__ssq"),
        F.sum(F.col("__s1") * F.col("__s1")).alias("__s1sq"),
        (F.max("__pos") + 1).cast("long").alias("dim"),
    )
    counts = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        moments.join(F.broadcast(counts), on=gcols)
        .select(
            *gcols,
            "n",
            "dim",
            F.when(
                F.col("n") > 1,
                F.expr(
                    "div(2 * n * __ssq - 2 * __s1sq, n * (n - 1))"
                ),
            ).alias("mean_sqdist_q2"),
        )
        .orderBy(*gcols)
    )


def embedding_diversity_sql(
    table: str,
    vec_col: str = "embedding",
    group_cols: Sequence[str] = ("label",),
    quant: int = 1024,
) -> str:
    """DuckDB twin of :func:`embedding_diversity` — parallel unnests
    zip value and position, same quantization, same integer moments."""
    g = ", ".join(group_cols)
    return f"""
WITH ex AS (
  SELECT {g},
         CAST(FLOOR(CAST(UNNEST({vec_col}) AS DOUBLE) * {quant} + 0.5)
              AS BIGINT) AS v,
         UNNEST(range(len({vec_col}))) AS pos
  FROM {table}
),
per_dim AS (
  SELECT {g}, pos, SUM(v) AS s1, SUM(v * v) AS ssq
  FROM ex GROUP BY {g}, pos
),
moments AS (
  SELECT {g}, SUM(ssq) AS ssq, SUM(s1 * s1) AS s1sq,
         CAST(MAX(pos) + 1 AS BIGINT) AS dim
  FROM per_dim GROUP BY {g}
),
counts AS (
  SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n FROM {table} GROUP BY {g}
)
SELECT {g}, n, dim,
       CASE WHEN n > 1
            THEN CAST((2 * n * ssq - 2 * s1sq) // (n * (n - 1))
                      AS BIGINT) END AS mean_sqdist_q2
FROM moments JOIN counts USING ({g})
ORDER BY {g}
"""


def mutual_knn_edges(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1024,
) -> DataFrame:
    """Mutual k-nearest-neighbor graph by inner product: an undirected
    edge (a, b) exists iff b is in a's top-k AND a is in b's top-k —
    the reciprocity filter that turns a kNN list into the graph
    density-based clustering, manifold methods, and hubness-robust
    dedup want (one-directional neighbors of a hub vector are NOT
    evidence of mutual similarity; reciprocity prunes exactly those).

    Determinism: int64-quantized dots (:func:`quantize_vec`), ranking
    by (dot desc, neighbor id asc) — the whole graph replays in SQL.

    Scale shape: this is the EXACT form — the directed candidate
    stage is the all-pairs dot (bounded corpora, oracle duty); at
    corpus scale swap that one stage for the IVF/LSH candidate
    generators in this module (ivf_topk/lsh_bucket_topk) and keep the
    reciprocity join unchanged — it is an equi-join on the edge key
    either way, and the mutual filter only ever SHRINKS candidate
    lists, so blocked candidates compose exactly like the containment
    screen→exact pattern.

    Returns undirected edges ``(id_a, id_b, dot_q, rank_ab, rank_ba)``
    with id_a < id_b, ordered.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        quantize_vec(F.col(vec_col), quant).alias("q"),
    )
    a = base.select(F.col("id").alias("ida"), F.col("q").alias("qa"))
    b = base.select(F.col("id").alias("idb"), F.col("q").alias("qb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ida") != F.col("idb"))
        .withColumn(
            "dot_q",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y), "
                "0L, (acc, v) -> acc + v)"
            ),
        )
    )
    w = Window.partitionBy("ida").orderBy(
        F.col("dot_q").desc(), F.col("idb").asc()
    )
    topk = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("ida", "idb", "dot_q", "rank")
    )
    rev = topk.select(
        F.col("ida").alias("idb"),
        F.col("idb").alias("ida"),
        F.col("rank").alias("rank_rev"),
    )
    return (
        topk.join(rev, on=["ida", "idb"])
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.col("ida").alias("id_a"),
            F.col("idb").alias("id_b"),
            "dot_q",
            F.col("rank").cast("long").alias("rank_ab"),
            F.col("rank_rev").cast("long").alias("rank_ba"),
        )
        .orderBy("id_a", "id_b")
    )


def mutual_knn_edges_sql(
    table: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1024,
) -> str:
    """DuckDB twin of :func:`mutual_knn_edges` — pair dots via a
    position equi-join over parallel unnests, same rank/tie rule,
    same reciprocity join."""
    return f"""
WITH ex AS (
  SELECT {id_col} AS id,
         CAST(FLOOR(CAST(UNNEST({vec_col}) AS DOUBLE) * {quant} + 0.5)
              AS BIGINT) AS q,
         UNNEST(range(len({vec_col}))) AS pos
  FROM {table}
),
dots AS (
  SELECT a.id AS ida, b.id AS idb,
         CAST(SUM(a.q * b.q) AS BIGINT) AS dot_q
  FROM ex a JOIN ex b USING (pos)
  WHERE a.id <> b.id
  GROUP BY a.id, b.id
),
topk AS (
  SELECT * FROM (
    SELECT ida, idb, dot_q,
           ROW_NUMBER() OVER (PARTITION BY ida
                              ORDER BY dot_q DESC, idb ASC) AS rank
    FROM dots
  ) WHERE rank <= {k}
)
SELECT t.ida AS id_a, t.idb AS id_b, t.dot_q,
       CAST(t.rank AS BIGINT) AS rank_ab,
       CAST(r.rank AS BIGINT) AS rank_ba
FROM topk t JOIN topk r ON t.ida = r.idb AND t.idb = r.ida
WHERE t.ida < t.idb
ORDER BY id_a, id_b
"""
