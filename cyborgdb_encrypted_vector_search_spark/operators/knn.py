"""k-nearest-neighbor similarity search operators.

Re-creates the reference's two query shapes:

- score-against-one-target (reference src/app.py:133-134) — the target
  vector becomes a *literal* column, so the plan is scan → project →
  TakeOrderedAndProject: zero shuffles, zero joins, trivially parallel
  over any corpus size.
- kNN search, queries × corpus top-k (reference src/cod.py:124-129,
  ``n_results=3``) — broadcast the (small) query side, cross-join
  against the corpus, per-query top-k. The corpus side streams; only
  k rows per query per partition survive the partial limit, so the
  shuffle into the final rank is O(queries × k × partitions), not
  O(corpus).

Determinism: ties broken by ascending neighbor id everywhere so results
are reproducible and oracle-comparable. :func:`topk_per_group` is the
one per-query top-k window every batch search in knn/ann/quant/pq
ranks through (score, then ascending id), and :func:`check_k` the one
``k``/``nprobe`` bound check; the IVF probes in operators/ann.py rank
centroids through the same window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.functions import vector as V


def check_k(k: int, name: str = "k") -> None:
    """Reject a top-k or probe bound below 1 — an empty window would
    otherwise return an empty frame without saying why."""
    if k < 1:
        raise ValueError(f"{name} must be >= 1, got {k}")


def topk_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    score_col: str,
    id_cols: str | Sequence[str],
    descending: bool = True,
    rank_col: str | None = None,
) -> DataFrame:
    """The k best rows of every ``group_col`` group: ``row_number``
    over (score, then ascending ``id_cols``) and ``<= k``. ``rank_col``
    keeps the 1-based rank. Spark 4's WindowGroupLimit pushes the limit
    into a per-partition partial, so the shuffle into the window
    carries at most k rows per group per partition."""
    check_k(k)
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    score = F.desc(score_col) if descending else F.asc(score_col)
    w = Window.partitionBy(group_col).orderBy(score, *[F.asc(c) for c in ids])
    ranked = df.withColumn("__rank", F.row_number().over(w)).filter(
        F.col("__rank") <= k
    )
    if rank_col is None:
        return ranked.drop("__rank")
    return ranked.withColumnRenamed("__rank", rank_col)


def score_against_target(
    corpus: DataFrame,
    target: Sequence[float],
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Add a cosine-vs-literal-target score column (reference src/app.py:134).

    Broadcast-degenerate join: the target is constant-folded into the
    projection; no shuffle at any scale.
    """
    return corpus.withColumn(
        score_col, V.cosine(F.col(embedding_col), V.literal_vector(target))
    )


def topk_against_target(
    corpus: DataFrame,
    target: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Global top-k by cosine vs one literal target.

    Plans as TakeOrderedAndProject (per-partition heap of k, merge on
    driver) — no global sort even over a 100 TB corpus.
    """
    check_k(k)
    scored = score_against_target(corpus, target, embedding_col, score_col)
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
    rank_col: str | None = None,
) -> DataFrame:
    """Exact kNN: for each query row, the k nearest corpus rows.
    ``rank_col`` keeps the per-query 1-based neighbor rank in the
    output (the same row_number that enforces top-k — free to expose).

    Reference parity: ``collection.query(query_embeddings=[v],
    n_results=3)`` (src/cod.py:124-129) generalized to N queries.

    Physical plan (the one you want at scale): BroadcastNestedLoopJoin
    with the *query* side broadcast (queries are few; the corpus is the
    100 TB side and must stream), then window rank per query id. Spark's
    WindowGroupLimit (4.x) pushes the ``rank <= k`` limit into a
    per-partition partial, so the shuffle carries only candidate
    survivors, not the full cross product.
    """
    if metric == "cosine":
        # Pre-normalize both sides once per ROW so the pairwise score is
        # a single array fold (see vector.with_unit_vectors rationale).
        qn = V.with_unit_vectors(
            queries.select(
                F.col(query_id_col).alias("__qid"),
                F.col(query_vec_col).alias("__qvec"),
            ),
            "__qvec",
            unit_col="__qunit",
            norm_col="__qnorm",
        ).drop("__qvec")
        if {"unit", "vnorm"} <= set(corpus.columns):
            # corpus already carries the materialized unit projection
            # (registry.unit_embeddings) — reuse, don't recompute
            cn = corpus.withColumnRenamed("unit", "__cunit").withColumnRenamed(
                "vnorm", "__cnorm"
            )
        else:
            cn = V.with_unit_vectors(
                corpus, corpus_vec_col, unit_col="__cunit", norm_col="__cnorm"
            )
        joined = cn.crossJoin(F.broadcast(qn)).withColumn(
            score_col,
            V.unit_cosine("__cunit", "__qunit", "__cnorm", "__qnorm"),
        ).drop("__cunit", "__cnorm", "__qunit", "__qnorm")
    elif metric == "l2":
        q = queries.select(
            F.col(query_id_col).alias("__qid"),
            F.col(query_vec_col).alias(query_vec_col),
        )
        joined = corpus.crossJoin(F.broadcast(q)).withColumn(
            score_col, V.l2_distance(F.col(corpus_vec_col), F.col(query_vec_col))
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")
    ranked = topk_per_group(
        joined,
        k,
        "__qid",
        score_col,
        corpus_id_col,
        descending=metric == "cosine",  # cosine: higher is better
        rank_col=rank_col,
    )
    return ranked.drop(query_vec_col).withColumnRenamed("__qid", query_id_col)


def classify_by_vote(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    corpus_id_col: str = "vec_id",
    corpus_vec_col: str = "embedding",
) -> DataFrame:
    """kNN classification: majority label among the k nearest corpus
    rows per query — the standard embedding-space labeler (weak
    labeling, quality-tier propagation, language-ID by example) and the
    eval harness for "are these embeddings any good".

    Ties break deterministically: more votes win; equal vote counts
    prefer the label whose best-ranked (nearest) witness comes first,
    then the smaller label. Returns (query_id, predicted, n_votes,
    best_rank).

    Scale shape: exactly :func:`knn_join` (broadcast queries, corpus
    streams, WindowGroupLimit bounds the rank shuffle) plus a
    |queries| x k -> |queries| map-side-combinable vote aggregate and a
    1-row-per-query window. Nothing grows with corpus size.
    """
    nn = knn_join(
        queries,
        corpus,
        k=k,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        corpus_id_col=corpus_id_col,
        corpus_vec_col=corpus_vec_col,
        rank_col="__rank",
    )
    votes = nn.groupBy(query_id_col, label_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"),
        F.min("__rank").cast("int").alias("best_rank"),
    )
    return topk_per_group(
        votes, 1, query_id_col, "n_votes", ["best_rank", label_col]
    ).select(
        query_id_col,
        F.col(label_col).alias("predicted"),
        "n_votes",
        "best_rank",
    )
