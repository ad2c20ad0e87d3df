"""Shared top-k / IVF-probe helpers and the guards that ride with them.

- ``knn.topk_per_group`` / ``ann.batch_probes`` / ``ann.probe_lists``
  are the one definition of the (score, id) ordering every vector
  search uses; the in-plan and driver-side probes must agree.
- Every batch search rejects ``k < 1`` and ``nprobe < 1`` instead of
  returning an empty frame.
- The MinHash banders release their persisted band frame through
  ``caching.release_all`` and reject hash counts that do not split
  evenly into bands.
- ``weighted_link_scores`` proves its packed (u << 32 | v) key on the
  edge frame, so a capped hub with an out-of-range id cannot corrupt it.
"""

from __future__ import annotations

import numpy as np
import pytest

from cyborgdb_encrypted_vector_search_spark import caching
from cyborgdb_encrypted_vector_search_spark.operators import ann, dedup, knn, pq, quant
from cyborgdb_encrypted_vector_search_spark.operators import graph as G

VEC = "array<double>"


def test_topk_per_group_orders_by_score_then_id(spark):
    df = spark.createDataFrame(
        [(0, 5, 0.9), (0, 3, 0.9), (0, 1, 0.1), (1, 2, 0.5), (1, 1, 0.7)],
        "g long, id long, s double",
    )
    got = knn.topk_per_group(df, 2, "g", "s", "id", rank_col="r").collect()
    assert sorted((r["g"], r["r"], r["id"]) for r in got) == [
        (0, 1, 3), (0, 2, 5), (1, 1, 1), (1, 2, 2),
    ]
    asc = knn.topk_per_group(df, 1, "g", "s", "id", descending=False).collect()
    assert sorted((r["g"], r["id"]) for r in asc) == [(0, 1), (1, 2)]


def test_batch_and_driver_probes_agree(spark):
    rng = np.random.RandomState(3)
    # duplicated centroid rows force distance ties: both probes must
    # break them by ascending centroid_id
    cvecs = rng.randn(5, 4).round(2).tolist()
    cents = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cvecs + cvecs[:2])],
        f"centroid_id int, centroid {VEC}",
    )
    targets = {j: rng.randn(4).round(2).tolist() for j in range(6)}
    q = spark.createDataFrame(
        list(targets.items()), f"__qid long, __qvec {VEC}"
    )
    rows = (
        ann.batch_probes(q, cents, 3, keep_centroid=True)
        .join(cents.withColumnRenamed("centroid", "__c"), "centroid_id")
        .collect()
    )
    assert all(r["__cvec"] == r["__c"] for r in rows)
    batch = {j: set() for j in targets}
    for r in rows:
        batch[r["__qid"]].add(r["centroid_id"])
    driver = ann.probe_lists(cents, targets, 3)
    assert {j: set(v) for j, v in driver.items()} == batch
    assert quant.ivfsq_probe_lists is ann.probe_lists
    cv = {r["centroid_id"]: np.asarray(r["centroid"]) for r in cents.collect()}
    for j, lst in driver.items():
        d = [float(np.sum((cv[c] - np.asarray(targets[j])) ** 2)) for c in lst]
        assert d == sorted(d)


def _bound_cases(spark):
    qv = spark.createDataFrame([(0, [1.0, 0.0])], f"query_id long, query_vec {VEC}")
    qq = spark.createDataFrame([(0, [1.0, 0.0])], f"qid long, qvec {VEC}")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], f"centroid_id int, centroid {VEC}")
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 0)], f"vec_id long, embedding {VEC}, centroid_id int"
    )
    codes = spark.createDataFrame(
        [(0, 0, [0, 0])], "vec_id long, centroid_id int, codes array<int>"
    )
    layout = spark.createDataFrame(
        [(0, 0, [0, 0], [1.0, 0.0])],
        f"vec_id long, centroid_id int, codes array<int>, embedding {VEC}",
    )
    bucketed = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.0, 0)], f"vec_id long, unit {VEC}, vnorm double, bucket long"
    )
    qbucketed = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.0, 0)], f"query_id long, unit {VEC}, vnorm double, bucket long"
    )
    books = [np.zeros((2, 1)), np.zeros((2, 1))]
    lo, hi = [0.0, 0.0], [1.0, 1.0]
    return {
        "ivf": lambda k, p: ann.ivf_search_batch(qv, corpus, cents, k=k, nprobe=p),
        "lsh": lambda k, p: ann.lsh_search_batch(bucketed, qbucketed, k=k, n_planes=2),
        "ivfpq": lambda k, p: pq.ivfpq_search_batch(codes, cents, books, qv, k=k, nprobe=p),
        "ivfadc": lambda k, p: pq.ivfadc_search_batch(
            codes, cents, books, qv, k=k, nprobe=p, rerank_df=corpus
        ),
        "sq8": lambda k, p: quant.sq8_batch_search(layout, lo, hi, qq, k=k),
        "ivfsq": lambda k, p: quant.ivfsq_search_batch(layout, cents, lo, hi, qq, k=k, nprobe=p),
    }


_IVF = ["ivf", "ivfpq", "ivfadc", "ivfsq"]


@pytest.mark.parametrize(
    "name,k,nprobe",
    [(n, k, 1) for n in _IVF + ["lsh", "sq8"] for k in (0, -1)]
    + [(n, 1, 0) for n in _IVF],
)
def test_batch_searches_reject_bounds_below_one(spark, name, k, nprobe):
    search = _bound_cases(spark)[name]
    with pytest.raises(ValueError, match="must be >= 1"):
        search(k, nprobe)
    # the bound itself is accepted
    assert search(1, 1).collect() is not None


_DOCS = [(i, f"the quick brown fox {i % 4} jumps over lazy dog {i % 3}") for i in range(20)]
_BANDERS = [dedup.lsh_candidate_pairs, dedup.lsh_candidate_pairs_xxhash]


@pytest.mark.parametrize("fn", _BANDERS, ids=["md5", "xxhash"])
def test_lsh_candidate_pairs_release_their_band_cache(spark, fn):
    caching.release_all()
    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    assert fn(df).count() > 0
    assert jsc.getPersistentRDDs().size() > start
    assert caching.release_all() >= 1
    assert jsc.getPersistentRDDs().size() == start


@pytest.mark.parametrize("fn", _BANDERS, ids=["md5", "xxhash"])
@pytest.mark.parametrize("num_hashes,num_bands", [(2, 4), (8, 3), (8, 0)])
def test_lsh_candidate_pairs_reject_uneven_banding(spark, fn, num_hashes, num_bands):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        fn(df, num_hashes=num_hashes, num_bands=num_bands)


def test_weighted_link_scores_capped_hub_with_large_id(spark, monkeypatch):
    # hub H (degree 6 > cap 3) is dropped as an apex but still shows up
    # as a wedge endpoint (5, H) through apexes 1 and 2; its id does not
    # fit the packed key, though every surviving apex id does
    hub = 2**33 + 7
    edges = [(1, 5), (2, 5)] + [(n, hub) for n in (1, 2, 3, 4, 10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")

    def scores():
        return {
            (r["u"], r["v"]): (r["cn"], r["ra_fp"], r["aa_fp"])
            for r in G.weighted_link_scores(df, min_common=1, max_apex_degree=3).collect()
        }

    got = scores()
    monkeypatch.setattr(G, "_ids_pack", lambda lo, hi: False)
    unpacked = scores()
    assert got == unpacked
    assert unpacked[(5, hub)][0] == 2
    assert unpacked[(1, 2)][0] == 1
