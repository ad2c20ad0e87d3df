"""Product quantization (PQ) for vector search at scale.

The reference delegates ANN entirely to ChromaDB's internal HNSW
(dependency of reference src/chromadb_store.py:1 — never configured in
repo code). HNSW is a pointer-chasing in-memory graph — the wrong shape
for a 100 TB Spark corpus. The batch-index equivalents here follow the
FAISS lineage (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011):

- train:  split the vector into ``m`` subspaces, k-means each subspace
          into ``2^nbits`` centroids (the codebooks — tiny: m * 2^nbits
          rows total, trained on a deterministic hash-sample).
- encode: each vector becomes ``m`` small codes (argmin centroid per
          subspace) — a one-time Arrow-batched pass; the encoded table
          is 64x smaller than float32 vectors at m=8, nbits=4, dim=64.
- search (ADC, asymmetric distance computation): for a query, compute
          the m x 2^nbits table of squared distances from each query
          subvector to each centroid ONCE on the driver (numpy, a few
          hundred floats), broadcast it as a literal, and score every
          encoded row with pure JVM array lookups:

              approx_dist(row) = sum_j table[j][code_j(row)]

          No Python, no UDF, no shuffle in the hot path — the scan
          stays inside whole-stage codegen and the global top-k plans
          as TakeOrderedAndProject. Encode is the only Python-touching
          step, and it runs once at index-build time, not per query.

Composes with the IVF layout (operators/ann.py): partition the encoded
table by centroid_id and ADC-scan only the probed partitions; re-rank
the ADC top candidates with exact distances from the full-precision
vectors when recall matters. Probes come from ``ann.batch_probes`` /
``ann.probe_lists`` and per-query windows from ``knn.topk_per_group``
— the one definition of the (score, id) ordering and tie-break; the
single-target searches share one ADC re-rank tail (``_adc_topk``) and
the batch searches one Arrow-batched ADC stage (``_ivf_adc_batch``).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V
from cyborgdb_encrypted_vector_search_spark.operators import ann, knn


def _kmeans_1sub(x: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Seeded Lloyd's iterations on one subspace; deterministic."""
    rng = np.random.RandomState(seed)
    init = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init)].astype(np.float64)
    for _ in range(iters):
        # (n, k) squared distances; argmin takes the FIRST minimum —
        # a deterministic tie-break
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def train_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    iters: int = 10,
    sample_mod: int = 1,
) -> list[np.ndarray]:
    """Train m per-subspace codebooks of 2^nbits centroids each.

    Training data is a deterministic hash-sample (``id % sample_mod ==
    0``) collected to the driver — codebooks need only a representative
    sample, never the full corpus; at 100 TB you'd sample ~1M rows.
    Returns a list of m arrays, each (2^nbits, dim/m).
    """
    k = 1 << nbits
    rows = (
        df.filter((F.col(id_col) % sample_mod) == 0)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    mat = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        _kmeans_1sub(mat[:, j * sub : (j + 1) * sub], k, seed + j, iters)
        for j in range(m)
    ]


def encode(
    df: DataFrame,
    codebooks: Sequence[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, codes array<int>) — one Arrow-batched pass at build time.

    The codebooks ship to executors inside the UDF closure (a few KB);
    each Arrow batch is encoded with one vectorized numpy argmin per
    subspace.
    """
    import pandas as pd  # noqa: F401 (annotation resolution)
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    sub = codebooks[0].shape[1]
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @pandas_udf("array<int>")
    def _enc(vs):
        mat = np.asarray(list(vs), dtype=np.float64)
        out = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            x = mat[:, j * sub : (j + 1) * sub]
            d = ((x[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _enc(F.col(vec_col)).alias("codes"),
    )


def adc_table(
    target: Sequence[float], codebooks: Sequence[np.ndarray]
) -> list[list[float]]:
    """m x 2^nbits squared-distance lookup table for one query."""
    t = np.asarray(target, dtype=np.float64)
    sub = codebooks[0].shape[1]
    return [
        (
            ((np.asarray(b) - t[j * sub : (j + 1) * sub][None, :]) ** 2)
            .sum(axis=1)
            .tolist()
        )
        for j, b in enumerate(codebooks)
    ]


def adc_score(codes_col: Column | str, table: list[list[float]]) -> Column:
    """Approximate squared L2 distance via JVM-side table lookups.

    The table is a literal array<array<double>> — whole-stage codegen
    evaluates ``sum_j table[j][codes[j]]`` with no Python involved.
    """
    c = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    lit_table = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in table]
    )
    m = len(table)
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    terms = F.transform(
        idx,
        lambda j: F.element_at(
            F.element_at(lit_table, (j + 1).cast("int")),
            (F.element_at(c, (j + 1).cast("int")) + 1).cast("int"),
        ),
    )
    return F.aggregate(
        terms, F.lit(0.0), lambda acc, x: acc + x
    )


def search_adc(
    codes_df: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    id_col: str = "vec_id",
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k by ADC; optionally re-rank with exact distances.

    Without re-rank: one codegen'd scan of the code table +
    TakeOrderedAndProject. With ``rerank_df`` (the full-precision
    table), the ADC top ``k * rerank_factor`` candidates — a tiny set —
    join back to their exact vectors and re-sort by true cosine, the
    standard recall-recovery step.

    Output contract (both branches): a ``score`` column where HIGHER is
    better — exact cosine similarity when re-ranking, else the negated
    ADC L2 distance (``-adc_dist``, also kept as its own column). Callers
    can always ``select(id_col, 'score')`` and sort DESC.
    """
    scored = codes_df.select(
        F.col(id_col), adc_score("codes", adc_table(target, codebooks)).alias("adc_dist")
    )
    return _adc_topk(scored, target, k, id_col, rerank_df, rerank_factor, vec_col)


def _adc_topk(
    scored: DataFrame,
    target: Sequence[float],
    k: int,
    id_col: str,
    rerank_df: DataFrame | None,
    rerank_factor: int,
    vec_col: str,
) -> DataFrame:
    """Single-target tail over ``scored`` (id, adc_dist): the ADC top-k,
    or the ADC top ``k * rerank_factor`` joined back to ``rerank_df``
    and re-ranked by exact cosine (``search_adc``'s output contract)."""
    cand = scored.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(
        k * (1 if rerank_df is None else rerank_factor)
    )
    if rerank_df is None:
        return cand.withColumn("score", -F.col("adc_dist"))
    t = V.literal_vector([float(x) for x in target])
    return (
        rerank_df.join(F.broadcast(cand), id_col)
        .withColumn("score", F.round(V.cosine(vec_col, t), 7))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .select(id_col, "score")
    )


def residual_frame(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, residual) — each vector minus its assigned
    coarse centroid, computed JVM-side with ``zip_with``.

    Classic IVFADC (Jégou et al., TPAMI 2011 §IV-A) quantizes the
    RESIDUAL ``x - q1(x)`` rather than the raw vector: residuals of a
    list cluster near the origin, so the same m x 2^nbits codebook
    budget yields a tighter quantizer. One broadcast join + one narrow
    projection — linear, shuffle-free at any corpus size.
    """
    assigned = ann.assign_centroids(
        df.select(id_col, vec_col), centroids, vec_col
    )
    cent = F.broadcast(
        centroids.select(
            F.col("centroid_id"),
            F.col("centroid").cast("array<double>").alias("__cvec"),
        )
    )
    return assigned.join(cent, "centroid_id").select(
        id_col,
        "centroid_id",
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("__cvec"),
            lambda x, y: x - y,
        ).alias("residual"),
    )


def ivfadc_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC with residual codes: per-probe query-residual ADC tables.

    ``codes_df`` is (id, centroid_id, codes) where the codes encode
    residuals (``encode`` over ``residual_frame``). Because stored codes
    are relative to their list's centroid, the query side must be too:
    for each probed centroid c the driver builds the ADC table from the
    query residual ``target - centroid_c`` (nprobe tiny numpy ops), and
    the scan picks the right table per row with a chained CASE on
    centroid_id — still one codegen'd pass over only the probed
    partitions, no Python in the hot path.
    """
    t = np.asarray(target, dtype=np.float64)
    probe = ann.nearest_centroids(centroids, {0: target}, nprobe, "centroid")[0]
    tables = {
        r["centroid_id"]: adc_table(
            (t - np.asarray(r["centroid"], dtype=np.float64)).tolist(),
            codebooks,
        )
        for r in probe
    }
    pruned = codes_df.filter(
        F.col("centroid_id").isin(list(tables.keys()))
    )
    expr = None
    for cid, table in tables.items():
        branch = adc_score("codes", table)
        expr = (
            F.when(F.col("centroid_id") == cid, branch)
            if expr is None
            else expr.when(F.col("centroid_id") == cid, branch)
        )
    scored = pruned.select(F.col(id_col), expr.alias("adc_dist"))
    return _adc_topk(scored, target, k, id_col, rerank_df, rerank_factor, vec_col)


def _ivf_adc_batch(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    queries: DataFrame,
    k: int,
    nprobe: int,
    rerank_df: DataFrame | None,
    rerank_factor: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    residual: bool,
) -> DataFrame:
    """Shared body of the batch IVF-PQ / IVFADC searches: batch probes,
    ADC in one Arrow-batched ``mapInPandas`` stage, per-query shortlist
    window, optional exact-cosine re-rank window.

    The stage groups each Arrow batch by query (and by probed list when
    ``residual``: residual codes need the table of ``qvec − centroid``),
    builds the m×2^nbits table once per group with numpy and
    gather-sums the group's codes. Output contract: a ``score`` column
    where HIGHER is better — exact cosine when ``rerank_df`` is given,
    else the negated ADC L2 distance (``-adc_dist``, also kept)."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    keys = ["__qid", "centroid_id"] if residual else ["__qid"]

    def _adc(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            parts = []
            for _, grp in pdf.groupby(keys):
                r = np.asarray(grp["__qvec"].iloc[0], dtype=np.float64)
                if residual:
                    r = r - np.asarray(grp["__cvec"].iloc[0], dtype=np.float64)
                table = np.asarray(adc_table(r, books))
                codes = np.stack(grp["codes"].to_list()).astype(np.int64)
                parts.append(
                    pd.DataFrame(
                        {
                            "__qid": grp["__qid"].to_numpy(),
                            "__vid": grp["__vid"].to_numpy(),
                            "adc_dist": table[np.arange(m)[None, :], codes].sum(axis=1),
                        }
                    )
                )
            yield pd.concat(parts, ignore_index=True)

    q = queries.select(
        F.col(query_id_col).cast("long").alias("__qid"),
        F.col(query_vec_col).cast("array<double>").alias("__qvec"),
    )
    probes = ann.batch_probes(q, centroids, nprobe, keep_centroid=residual)
    cand = codes_df.join(F.broadcast(probes), "centroid_id").select(
        "__qid",
        "__qvec",
        *(["__cvec", "centroid_id"] if residual else []),
        F.col(id_col).cast("long").alias("__vid"),
        "codes",
    )
    scored = cand.mapInPandas(
        _adc, schema="__qid long, __vid long, adc_dist double"
    )
    shortlist = knn.topk_per_group(
        scored,
        k * (1 if rerank_df is None else rerank_factor),
        "__qid",
        "adc_dist",
        "__vid",
        descending=False,
    )
    if rerank_df is None:
        return shortlist.select(
            F.col("__qid").alias(query_id_col),
            F.col("__vid").alias(id_col),
            F.col("adc_dist"),
            (-F.col("adc_dist")).alias("score"),
        )
    rer = (
        rerank_df.select(F.col(id_col).cast("long").alias("__vid"), vec_col)
        .join(F.broadcast(shortlist.select("__qid", "__vid")), "__vid")
        .join(F.broadcast(q), "__qid")
        .withColumn("score", F.round(V.cosine(vec_col, "__qvec"), 7))
    )
    return knn.topk_per_group(rer, k, "__qid", "score", "__vid").select(
        F.col("__qid").alias(query_id_col),
        F.col("__vid").alias(id_col),
        F.col("score"),
    )


def ivfadc_search_batch(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVFADC: residual-code search for a whole query batch in
    ONE plan. Same skeleton as ``ivfpq_search_batch``, but because the
    stored codes encode residuals vs their list's centroid, the ADC
    table differs per (query, probed list) — the mapInPandas stage
    groups by (query, centroid), builds the table from the query
    residual ``qvec − centroid`` with vectorized numpy, and
    gather-sums that group's codes. The single-target path's
    chained-CASE JVM tables can't batch (one literal table per query ×
    probe would blow up codegen); one Arrow-batched Python stage with
    O(rows) work is the right trade."""
    return _ivf_adc_batch(
        codes_df, centroids, codebooks, queries, k, nprobe, rerank_df,
        rerank_factor, id_col, vec_col, query_id_col, query_vec_col,
        residual=True,
    )


def ivfpq_search_batch(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVF-PQ: every query probed, ADC-scored and re-ranked in
    ONE plan — the 100 TB serving shape for a query BATCH.

    The single-target ``ivfpq_search`` builds one JVM literal lookup
    table per query and collects probe ids per query — N queries means
    N driver round-trips and N plans. Here:

    1. probe lists via a broadcast queries×centroids window (Q×nprobe
       rows);
    2. the probe list broadcasts onto the code table (partition
       pruning on a centroid-partitioned layout) — each code row pairs
       only with queries that probed its list;
    3. ADC inside ``mapInPandas``: per Arrow batch, group by query,
       build the m×2^nbits table ONCE per query with vectorized numpy,
       then gather-sum all that query's codes in one shot. Tables
       can't be JVM literals here because they differ per query row —
       this is the one justified Python hop, Arrow-batched, O(rows)
       work;
    4. per-query shortlist window (k×rerank_factor), exact-cosine
       re-rank against the full-precision table, final top-k window.
    """
    return _ivf_adc_batch(
        codes_df, centroids, codebooks, queries, k, nprobe, rerank_df,
        rerank_factor, id_col, vec_col, query_id_col, query_vec_col,
        residual=False,
    )


def ivfpq_search(
    codes_df: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[np.ndarray],
    target: Sequence[float],
    k: int = 3,
    nprobe: int = 2,
    rerank_df: DataFrame | None = None,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse probe pruning, then ADC, then exact re-rank.

    ``codes_df`` is the built index — (id, centroid_id, codes) — ideally
    materialized partitioned by centroid_id (ann.build_ivf_layout shape)
    so the probe IN-filter is partition pruning. The scan that remains
    touches nprobe/k_coarse of the data and reads only the code column
    (m bytes/row, 64x smaller than the vectors); the full-precision
    table is consulted only for the k*rerank_factor survivors. This is
    the FAISS IVFADC composition (Jégou et al., TPAMI 2011 §IV) — at
    100 TB the only full-corpus costs are build-time one-pass assign
    and encode.
    """
    probe_ids = ann.probe_lists(centroids, {0: target}, nprobe)[0]
    return search_adc(
        codes_df.filter(F.col("centroid_id").isin(probe_ids)),
        codebooks, target, k, id_col, rerank_df, rerank_factor, vec_col,
    )
