"""Approximate nearest-neighbor search: LSH buckets and IVF partitioning.

The reference delegates ANN entirely to ChromaDB's internal HNSW index
(dependency of src/chromadb_store.py:1 — never configured or seen by its
code). An HNSW graph is a pointer-chasing, single-node structure; the
Spark-native equivalents of "index the corpus so queries touch a small
fraction of it" are:

- **Random-hyperplane LSH** (sign-of-projection bits → integer bucket).
  Pure column expressions over seeded literal planes: deterministic,
  shuffle-free to compute, and bucket equality is a join key. At query
  time only same-bucket (or multiprobe-neighbor-bucket) rows are
  scored — candidate generation is a hash join, not a scan.
- **IVF (inverted file)**: coarse-quantize every vector to its nearest
  centroid; lay the table out partitioned by ``centroid_id``. A query
  probes the ``nprobe`` nearest centroids and ranks exactly within
  them — partition pruning does the index work (SURVEY.md §4).
  Centroids come from MLlib k-means (seeded) or any fixed vector set.

Both turn O(corpus) per query into O(corpus/buckets · probes) and are
embarrassingly scalable: build is one pass, search is pruned scan +
TakeOrderedAndProject.

Every fixed-nprobe IVF search here and in operators/quant.py and
operators/pq.py picks its probed lists through one of two helpers —
:func:`batch_probes` (a per-query window inside the plan) or
:func:`probe_lists` (one driver job for many targets) — both ordering
centroids by (L2 distance asc, centroid_id asc); every batch search
ranks its candidates through ``knn.topk_per_group``. The ordering and
tie-break of probes and per-query top-k live in those helpers alone.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import knn


# --- random-hyperplane LSH ---------------------------------------------

def hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic unit hyperplanes (seeded Gaussian, rounded so the
    exact same literals can be embedded in oracle SQL)."""
    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62] for a bigint bucket, got {n_planes}")
    rng = np.random.RandomState(seed)
    h = rng.randn(n_planes, dim)
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return [[round(float(x), 6) for x in row] for row in h]


def lsh_bucket(vec_col: Column | str, planes: Sequence[Sequence[float]]) -> Column:
    """Integer bucket id: bit i = (vec . plane_i) > 0.

    Column-expression only — at 100 TB this is computed inside the scan
    projection, no shuffle, and becomes a clusterable/partitionable key.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0).cast("bigint")
    for i, p in enumerate(planes):
        bit = F.when(
            V.dot(c, V.literal_vector(p)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bucket + bit.cast("bigint")
    return bucket


def sql_lsh_bucket(vec_expr: str, planes: Sequence[Sequence[float]]) -> str:
    """DuckDB twin of lsh_bucket over the same literal planes."""
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(({vec_expr})::DOUBLE[], {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    dim: int = 64,
    out_col: str = "bucket",
) -> DataFrame:
    return df.withColumn(out_col, lsh_bucket(vec_col, hyperplanes(dim, n_planes, seed)))


def multiprobe_buckets(bucket: Column | str, n_planes: int) -> Column:
    """The probe set for a query bucket: itself + every 1-bit-flip
    neighbor (n_planes+1 buckets). Single-bucket LSH probes miss
    near-boundary neighbors; probing Hamming-1 buckets recovers most of
    that recall for (n_planes+1)/2^n_planes of the corpus scanned —
    at 8 planes, ~3.5% of the data instead of 0.4%, still ~28x less
    than brute force."""
    c = F.col(bucket) if isinstance(bucket, str) else bucket
    return F.array(c, *[c.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def sql_multiprobe_buckets(bucket_expr: str, n_planes: int) -> str:
    parts = ", ".join(
        [bucket_expr] + [f"xor({bucket_expr}, {1 << i})" for i in range(n_planes)]
    )
    return f"[{parts}]"


def lsh_probe_search(
    corpus_bucketed: DataFrame,
    target_unit,
    target_bucket_df: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    unit_col: str = "unit",
    norm_col: str = "vnorm",
) -> DataFrame:
    """Multiprobe LSH search: candidates = rows whose bucket is within
    Hamming-1 of the target's bucket, ranked by exact cosine. On a
    bucket-partitioned layout the semi-join on probe buckets is pure
    partition pruning."""
    probes = target_bucket_df.select(
        F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket")
    ).distinct()
    cand = corpus_bucketed.join(F.broadcast(probes), "bucket")
    t = V.literal_vector(target_unit)
    return (
        cand.withColumn(
            "score",
            F.when(F.col(norm_col) == 0, F.lit(-1.0)).otherwise(
                V.dot(unit_col, t)
            ),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def lsh_search_batch(
    corpus_bucketed: DataFrame,
    queries_bucketed: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    unit_col: str = "unit",
    norm_col: str = "vnorm",
) -> DataFrame:
    """Batch multiprobe LSH: every query's probe + rank in ONE plan.

    ``queries_bucketed`` carries (query_id, unit, vnorm, bucket) — the
    same index columns the corpus has. Per query the probe set is its
    bucket plus all Hamming-1 neighbors (9 of 2^n_planes); the whole
    (query, bucket) probe list is Q×9 rows, broadcasts, and hash-joins
    the corpus on bucket — on a bucket-partitioned layout that is
    partition pruning for the union of all queries' probes in a single
    scan. Exact unit-cosine on candidates, per-query top-k window
    (WindowGroupLimit). A corpus row has exactly one bucket, so no
    (query, row) pair is scored twice.
    """
    probes = queries_bucketed.select(
        F.col(query_id_col).alias("__qid"),
        F.col(unit_col).alias("__qunit"),
        F.col(norm_col).alias("__qnorm"),
        F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket"),
    )
    cand = corpus_bucketed.join(F.broadcast(probes), "bucket")
    score = F.when(
        (F.col(norm_col) == 0) | (F.col("__qnorm") == 0), F.lit(-1.0)
    ).otherwise(V.dot(unit_col, "__qunit"))
    return knn.topk_per_group(
        cand.withColumn("score", score), k, "__qid", "score", id_col
    ).select(F.col("__qid").alias(query_id_col), F.col(id_col), F.col("score"))


# --- IVF ----------------------------------------------------------------

def assign_centroids(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid assignment (coarse quantization).

    centroids is small (k rows) → broadcast; per row we argmin L2 over
    the k candidates with a min_by aggregation — one narrow shuffle-free
    projection plus a broadcast join, linear in corpus size.
    """
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("__cid"),
            F.col(centroid_vec_col).alias("__cvec"),
        )
    )
    joined = df.crossJoin(cent).withColumn(
        "__dist", V.l2_distance(vec_col, "__cvec")
    )
    # min_by with deterministic tie-break on centroid id
    other_cols = [c for c in df.columns]
    return (
        joined.groupBy(*other_cols)
        .agg(
            F.min_by(
                F.col("__cid"), F.struct(F.col("__dist"), F.col("__cid"))
            ).alias(centroid_id_col)
        )
    )


def kmeans_centroids(
    df: DataFrame, k: int = 16, vec_col: str = "embedding", seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Seeded MLlib k-means centroids as (centroid_id, centroid) rows.

    Build-time only; the resulting centroid table is tiny and reusable.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    spark = df.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "centroid_id int, centroid array<double>")


def build_ivf_layout(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: assign + write partitioned by
    centroid_id. Queries that probe n centroids then read only those
    directories — Spark's partition pruning IS the inverted file."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def append_to_ivf_layout(
    df: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance — the ANN ingest path at 100 TB:
    assign ONLY the new batch to the FIXED centroids and append it
    into the existing partitioned layout. A parquet append adds files
    solely under the touched ``centroid_id=`` directories, so ingest
    cost is O(batch): the resident corpus is never rewritten,
    reshuffled or even read, and probe queries keep partition-pruning
    the same layout (new files are picked up by the directory
    listing). Centroids stay fixed between rebuilds — the standard IVF
    maintenance model; recall drift under distribution shift is a
    rebuild trigger (build_ivf_layout), not an append concern."""
    assigned = assign_centroids(df, centroids, vec_col)
    assigned.write.mode("append").partitionBy("centroid_id").parquet(path)


def compact_ivf_layout(
    spark, src_path: str, dest_path: str, max_tasks: int = 8
) -> None:
    """Compact an append-grown IVF layout into ``dest_path``.

    Every append_to_ivf_layout batch adds at least one file per
    touched ``centroid_id=`` directory, so a long-running ingest
    accumulates small files (the classic streaming-sink problem) and
    probe-time listing/open cost creeps up. Compaction is a
    SHUFFLE-FREE maintenance job: read → ``coalesce(max_tasks)``
    (narrow — no Exchange) → rewrite ``partitionBy(centroid_id)``,
    leaving at most ``max_tasks`` files per centroid directory. The
    caller swaps ``dest_path`` in atomically (directory rename) so
    readers never see a half-compacted index; the source layout stays
    intact until then."""
    df = spark.read.parquet(src_path)
    (
        df.coalesce(max_tasks)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(dest_path)
    )


def adaptive_probe_ids(
    centroids_with_counts: DataFrame,
    target: Sequence[float],
    k: int = 3,
    factor: int = 4,
    count_col: str = "n",
) -> list[int]:
    """Adaptive nprobe: probe centroids in distance order, stopping once
    the accumulated inverted-list size reaches ``k * factor``.

    A fixed nprobe wastes IO on dense regions and starves sparse ones;
    sizing the probe set by candidate count keeps re-rank cost constant.
    ``centroids_with_counts`` is the (tiny) centroid table joined with
    per-list row counts — maintained at build time, so this is a
    driver-side sort over k_coarse rows, no corpus scan. A centroid is
    probed iff the candidate total BEFORE it is still short of the
    target, so the result is the minimal prefix reaching k*factor.
    """
    tvec = V.literal_vector([float(x) for x in target])
    rows = (
        centroids_with_counts.withColumn(
            "__d", V.l2_distance("centroid", tvec)
        )
        .orderBy(F.asc("__d"), F.asc("centroid_id"))
        .select("centroid_id", count_col)
        .collect()
    )
    need = k * factor
    probe, cum = [], 0
    for r in rows:
        if cum >= need:
            break
        probe.append(r["centroid_id"])
        cum += r[count_col]
    return probe


def ivf_search_adaptive(
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    target: Sequence[float],
    k: int = 3,
    factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    counts: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search with candidate-count-adaptive probe depth.

    ``counts`` (centroid_id, n) comes from the build step; if omitted
    it is computed with one count-per-list aggregation (fine at test
    scale; at 100 TB persist it next to the layout).
    """
    if counts is None:
        counts = corpus_with_centroids.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    cw = centroids.join(F.broadcast(counts), "centroid_id")
    probe_ids = adaptive_probe_ids(cw, target, k=k, factor=factor)
    return knn.topk_against_target(
        corpus_with_centroids.filter(F.col("centroid_id").isin(probe_ids)),
        [float(x) for x in target], k, id_col, vec_col,
    )


def ivf_search_batch(
    queries: DataFrame,
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch IVF: EVERY query's probe + rank as ONE declarative plan.

    ``ivf_search`` collects probe ids to the driver per target — fine
    interactively, but N queries means N jobs and a driver round-trip
    each. The batch shape a 100 TB serving job wants instead:

    1. queries × centroids (broadcast — centroids are small by
       construction) → per-query nprobe nearest lists
       (:func:`batch_probes`);
    2. the (query, centroid) probe list — Q × nprobe rows — broadcasts
       and hash-joins the corpus on ``centroid_id``: a corpus row is
       scored ONLY against queries that probed its list, so work is
       candidate-bounded exactly like the single-query pruned scan;
    3. exact cosine on survivors + per-query top-k window
       (``knn.topk_per_group``).

    No driver loop, no collect; one broadcast join + one shuffle (the
    final per-query window on __qid).
    """
    q = queries.select(
        F.col(query_id_col).alias("__qid"),
        F.col(query_vec_col).alias("__qvec"),
    )
    probes = batch_probes(q, centroids, nprobe)
    cand = corpus_with_centroids.join(F.broadcast(probes), "centroid_id")
    return knn.topk_per_group(
        cand.withColumn("score", V.cosine(vec_col, "__qvec")),
        k, "__qid", "score", id_col,
    ).select(F.col("__qid").alias(query_id_col), F.col(id_col), F.col("score"))


def ivf_search(
    corpus_with_centroids: DataFrame,
    centroids: DataFrame,
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest centroids, exact-rank inside them.

    When corpus_with_centroids is a centroid-partitioned table, the
    centroid_id IN (...) filter prunes partitions before any IO.
    """
    probe_ids = probe_lists(centroids, {0: target}, nprobe)[0]
    return knn.topk_against_target(
        corpus_with_centroids.filter(F.col("centroid_id").isin(probe_ids)),
        target, k, id_col, vec_col,
    )


# --- shared IVF probes ---------------------------------------------------

def batch_probes(
    q: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    keep_centroid: bool = False,
) -> DataFrame:
    """Every query's ``nprobe`` nearest lists in ONE plan: ``q``
    (__qid, __qvec) × centroids (broadcast — small by construction),
    ranked per query by (L2 distance, centroid_id) through
    ``knn.topk_per_group`` (WindowGroupLimit keeps it partial). Returns
    (__qid, __qvec, centroid_id), plus the centroid vector as __cvec
    when ``keep_centroid`` (residual codes need it)."""
    knn.check_k(nprobe, "nprobe")
    pairs = q.crossJoin(
        F.broadcast(centroids.select("centroid_id", "centroid"))
    ).withColumn("__cd", V.l2_distance("__qvec", "centroid"))
    return knn.topk_per_group(
        pairs, nprobe, "__qid", "__cd", "centroid_id", descending=False
    ).select(
        "__qid",
        "__qvec",
        "centroid_id",
        *([F.col("centroid").alias("__cvec")] if keep_centroid else []),
    )


def nearest_centroids(
    centroids: DataFrame, targets: dict, nprobe: int, *extra: str
) -> dict:
    """{key: [Row(centroid_id, *extra), ...]} — each target's ``nprobe``
    nearest centroids in (distance, centroid_id) order, for all targets
    in ONE driver job: a union of per-target TakeOrderedAndProject
    branches over the tiny centroid table, collected once."""
    knn.check_k(nprobe, "nprobe")
    out: dict = {key: [] for key in targets}
    probes = None
    for key, target in sorted(targets.items()):
        t = V.literal_vector([float(x) for x in target])
        p = (
            centroids.withColumn("__d", V.l2_distance("centroid", t))
            .orderBy(F.asc("__d"), F.asc("centroid_id"))
            .limit(nprobe)
            .select(F.lit(key).alias("__qk"), "centroid_id", *extra, "__d")
        )
        probes = p if probes is None else probes.unionAll(p)
    if probes is None:
        return out
    for r in sorted(
        probes.collect(), key=lambda r: (r["__qk"], r["__d"], r["centroid_id"])
    ):
        out[r["__qk"]].append(r)
    return out


def probe_lists(centroids: DataFrame, targets: dict, nprobe: int = 4) -> dict:
    """Probe lists for MANY query targets in ONE driver job: a serving
    loop that issued Q single-target probes paid Q driver jobs just to
    pick ``nprobe`` ids each. Returns {query_key: [centroid_id, ...]},
    each list in (distance asc, centroid_id asc) order — the order a
    single-target probe produces."""
    return {
        key: [r["centroid_id"] for r in rows]
        for key, rows in nearest_centroids(centroids, targets, nprobe).items()
    }
