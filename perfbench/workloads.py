"""The benchmark workloads.

Each workload generates its inputs from the seed, builds its state
through the program's public API, and serves a fixed cycle of request
kinds. ``call`` is the timed request; ``check`` compares its output
with the benchmark's own model outside the timed region; ``call_traced``
runs the same request with spans around each layer and records
per-layer numbers into ``self.layers``.

Corpora and append batches reach Spark as Parquet files written here
with pyarrow, so the timed path never includes Python-side row
serialisation; query vectors go through the API's own list arguments.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cyborgdb_encrypted_vector_search_spark.operators import ann as A
from cyborgdb_encrypted_vector_search_spark.operators import quant as Q
from cyborgdb_encrypted_vector_search_spark.sources.collections import Collection
from perfbench import gen
from perfbench import measure as M
from perfbench.harness import noop, timed

DIM = 384
KEY = "perfbench-aes-key-0123456789abcd"  # 32 bytes: AES-256
TIE_TOL = 1e-6  # distance ties within this are interchangeable


@dataclass
class Outcome:
    ok: bool
    items: int
    hits: float = 0.0
    wanted: float = 0.0
    why: str = ""


def _vectors(x: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(x.reshape(-1), pa.float32()), x.shape[1]
    ).cast(pa.list_(pa.float32()))


def write_input(path: str, table: pa.Table, parts: int = 1) -> None:
    """Stage an input as a directory of ``parts`` Parquet files, the
    shape a previous pipeline stage leaves behind, so Spark reads it
    with ``parts`` partitions."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def _unit(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, np.float64)
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _exact_cosine_topk(q: np.ndarray, corpus: np.ndarray, k: int):
    """(cosine distance to every corpus row, sorted index of the k best)."""
    dist = 1.0 - _unit(corpus) @ _unit(q)
    order = np.lexsort((np.arange(len(dist)), dist))
    return dist, order[:k]


class Workload:
    name = ""
    cycle: tuple[str, ...] = ("request",)
    # share of wanted results a run must find to count as correct
    RECALL_FLOOR = 0.0
    # setups per run (setup_s is their median); untimed warm-up request
    # cycles before the timed window
    SETUP_REPS = 3
    WARMUP_CYCLES = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.layers: dict[str, list[float]] = {}

    def note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def kind(self, i: int) -> str:
        return self.cycle[i % len(self.cycle)]

    def recall_ok(self, hits: float, wanted: float) -> bool:
        return bool(not wanted or hits / wanted >= self.RECALL_FLOOR)

    # subclasses: prepare(ctx, rep), make(ctx, i), call(ctx, req),
    # check(req, out), call_traced(ctx, req), finish(ctx) -> (ok, stored)


# -- enc_serve ---------------------------------------------------------------


class EncServe(Workload):
    """Exact top-10 over an AES-GCM encrypted collection."""

    name = "enc_serve"
    N, CLUSTERS, QUERIES, K = 1000, 64, 4, 10
    # cost per request keeps falling for the first few dozen requests
    # while the JIT settles; a warm-up counted in requests (not seconds)
    # starts every run's timed window at the same point on that curve
    WARMUP_CYCLES = 14

    def prepare(self, ctx, rep):
        self.x = gen.gaussian_mixture(self.seed, self.N, DIM, self.CLUSTERS)
        ids = [f"v{i:06d}" for i in range(self.N)]
        self.docs = gen.documents(self.seed, self.N, 16)
        src = ctx.path(f"enc_input{rep}")
        write_input(
            src,
            pa.table({"id": ids, "document": self.docs, "embedding": _vectors(self.x)}),
            ctx.cores,
        )
        root = ctx.path(f"enc{rep}")
        self.coll = Collection.create(ctx.spark, "enc", root, dim=DIM)
        with ctx.tracer.span("collections.build", ctx.rid):
            _, secs = timed(self.coll.add_encrypted, ctx.spark.read.parquet(src), KEY, id_col="id")
        self.note("collections.build_s", secs)
        self.user_bytes = self.x.nbytes + sum(len(d.encode()) for d in self.docs)

    def make(self, ctx, i):
        return gen.near_points(self.seed, i, self.x, self.QUERIES)

    def _query(self, q):
        return self.coll.query_encrypted(
            KEY, query_embeddings=q.tolist(), n_results=self.K
        ).collect()

    def call(self, ctx, q):
        return self._query(q)

    def call_traced(self, ctx, q):
        with ctx.tracer.span("collections.scan", ctx.rid):
            _, t_scan = timed(noop, self.coll.scan())
        with ctx.tracer.span("crypto.decrypt", ctx.rid):
            _, t_dec = timed(noop, self.coll.decrypt(KEY))
        with ctx.tracer.span("knn.query_encrypted", ctx.rid):
            out, t_q = timed(self._query, q)
        self_t = M.prefix_self_times(
            [("collections.scan_s", t_scan), ("crypto.decrypt_s", t_dec), ("knn.score_rank_s", t_q)]
        )
        for name, secs in self_t.items():
            self.note(name, secs)
        self.note("knn.pairs_scored_per_query", self.N)
        return out

    def check(self, q, rows) -> Outcome:
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_idx"], []).append(r)
        hits = 0
        for qi in range(len(q)):
            got = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
            dist, top = _exact_cosine_topk(q[qi], self.x, self.K)
            if [r["rank"] for r in got] != list(range(1, self.K + 1)):
                return Outcome(False, len(q), why=f"query {qi}: ranks {len(got)} rows")
            idx = [int(r["id"][1:]) for r in got]
            if len(set(idx)) != self.K:
                return Outcome(False, len(q), why=f"query {qi}: duplicate ids")
            for r, j in zip(got, idx):
                if r["document"] != self.docs[j] or abs(r["distance"] - dist[j]) > TIE_TOL:
                    return Outcome(False, len(q), why=f"query {qi}: row {r['id']} differs")
            hits += int(sum(dist[j] <= dist[top[-1]] + TIE_TOL for j in idx))
        wanted = self.K * len(q)
        return Outcome(hits == wanted, len(q), hits, wanted, "" if hits == wanted else "missed neighbours")

    def finish(self, ctx):
        if ctx.trace:
            ct = self.coll.extract_encrypted().select(
                F.avg(F.length(F.unbase64("embedding_ct"))).alias("b")
            )
            self.note("crypto.ct_bytes_per_vector", ct.first()["b"])
        n = self.coll.count()
        stored = M.total_bytes(M.snapshot(self.coll.path)) / self.user_bytes
        return n == self.N, stored


# -- ann_ingest ----------------------------------------------------------------


class AnnIngest(Workload):
    """IVF-SQ8 index that takes appends between searches."""

    name = "ann_ingest"
    cycle = ("append", "search")
    BASE, SAMPLE, CLUSTERS, LISTS = 192, 64, 6, 6
    BATCH, QUERIES, K, NPROBE, OVERSAMPLE = 32, 2, 10, 2, 8
    RECALL_FLOOR = 0.8
    WARMUP_CYCLES = 2

    def prepare(self, ctx, rep):
        spark = ctx.spark
        self.x = gen.gaussian_mixture(self.seed, self.BASE, DIM, self.CLUSTERS)
        base = ctx.path(f"ann_base{rep}")
        sample = ctx.path(f"ann_sample{rep}")
        write_input(base, self._table(self.x, 0), ctx.cores)
        write_input(sample, self._table(self.x[: self.SAMPLE], 0), ctx.cores)
        sample_df = spark.read.parquet(sample)
        with ctx.tracer.span("ann.kmeans", ctx.rid):
            cents, secs = timed(
                lambda: spark.createDataFrame(
                    A.kmeans_centroids(sample_df, k=self.LISTS, seed=self.seed, max_iter=5).collect(),
                    "centroid_id int, centroid array<double>",
                )
            )
        self.note("ann.kmeans_s", secs)
        with ctx.tracer.span("quant.train", ctx.rid):
            (self.mins, self.maxs), secs = timed(Q.sq8_train, sample_df)
        self.note("quant.train_s", secs)
        self.cents = cents
        self.layout = ctx.path(f"ann_layout{rep}")
        with ctx.tracer.span("quant.build", ctx.rid):
            _, secs = timed(
                Q.build_ivfsq_layout, spark.read.parquet(base), cents, self.mins, self.maxs, self.layout
            )
        self.note("quant.build_s", secs)

    @staticmethod
    def _table(x, first_id):
        ids = np.arange(first_id, first_id + len(x), dtype=np.int64)
        return pa.table({"vec_id": ids, "embedding": _vectors(x)})

    def make(self, ctx, i):
        if self.kind(i) == "append":
            b = gen.fresh_batch(self.seed, i, self.x[: self.BASE], self.BATCH)
            path = ctx.path(f"ann_batch{i}")
            write_input(path, self._table(b, len(self.x)))
            return ("append", b, ctx.spark.read.parquet(path))
        q = gen.near_points(self.seed, i, self.x, self.QUERIES)
        qdf = ctx.spark.createDataFrame(
            [(j, v.tolist()) for j, v in enumerate(q)], "qid long, qvec array<double>"
        )
        return ("search", q, qdf)

    def call(self, ctx, req):
        kind, _arr, df = req
        if kind == "append":
            Q.append_to_ivfsq_layout(df, self.cents, self.mins, self.maxs, self.layout)
            return None
        return Q.ivfsq_search_batch(
            ctx.spark.read.parquet(self.layout), self.cents, self.mins, self.maxs, df,
            k=self.K, nprobe=self.NPROBE, oversample=self.OVERSAMPLE,
        ).collect()

    def call_traced(self, ctx, req):
        kind, arr, df = req
        if kind == "append":
            before = M.snapshot(self.layout)
            with ctx.tracer.span("ann.assign", ctx.rid):
                _, t_assign = timed(noop, A.assign_centroids(df, self.cents))
            with ctx.tracer.span("quant.encode", ctx.rid):
                _, t_enc = timed(
                    noop, Q.sq8_encode(A.assign_centroids(df, self.cents), self.mins, self.maxs)
                )
            with ctx.tracer.span("quant.append", ctx.rid):
                out, t_app = timed(self.call, ctx, req)
            self_t = M.prefix_self_times([("ann.assign_s", t_assign), ("quant.encode_s", t_enc)])
            for name, secs in self_t.items():
                self.note(name, secs)
            self.note("quant.append_s", t_app)
            after = M.snapshot(self.layout)
            d = M.diff(before, after, "centroid_id")
            self.note("quant.written_bytes", d.bytes_written)
            self.note("quant.user_bytes", arr.nbytes)
            self.note("quant.lists_touched_per_append", d.partitions_touched)
            self.note("ann.files_per_list", M.files_per_partition(after, "centroid_id"))
            return out
        targets = {j: v.tolist() for j, v in enumerate(arr)}
        with ctx.tracer.span("quant.probe", ctx.rid):
            probes, t_probe = timed(Q.ivfsq_probe_lists, self.cents, targets, self.NPROBE)
        with ctx.tracer.span("quant.search_batch", ctx.rid):
            out, t_search = timed(self.call, ctx, req)
        self.note("quant.probe_s", t_probe)
        self.note("quant.search_batch_s", t_search)
        layout = ctx.spark.read.parquet(self.layout)
        for lists in probes.values():
            n = layout.filter(F.col("centroid_id").isin(lists)).count()
            self.note("ann.candidates_per_query", n)
            self.note("ann.useful_ratio", self.K / n if n else 0.0)
        return out

    def check(self, req, out) -> Outcome:
        kind, arr, _df = req
        if kind == "append":
            self.x = np.concatenate([self.x, arr])
            return Outcome(True, len(arr))
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(r["qid"], []).append(r)
        hits = 0
        for qi in range(len(arr)):
            got = sorted(by_q.get(qi, []), key=lambda r: (-r["score"], r["vec_id"]))
            ids = [r["vec_id"] for r in got]
            if len(ids) != self.K or len(set(ids)) != self.K:
                return Outcome(False, len(arr), why=f"query {qi}: {len(ids)} rows")
            if not all(0 <= j < len(self.x) for j in ids):
                return Outcome(False, len(arr), why=f"query {qi}: unknown id")
            dist, top = _exact_cosine_topk(arr[qi], self.x, self.K)
            for r, j in zip(got, ids):
                if abs((1.0 - r["score"]) - dist[j]) > TIE_TOL:
                    return Outcome(False, len(arr), why=f"query {qi}: score of {j} differs")
            hits += int(sum(dist[j] <= dist[top[-1]] + TIE_TOL for j in ids))
        return Outcome(True, len(arr), hits, self.K * len(arr))

    def finish(self, ctx):
        n = ctx.spark.read.parquet(self.layout).count()
        stored = M.total_bytes(M.snapshot(self.layout)) / self.x.nbytes
        return n == len(self.x), stored


WORKLOADS = {w.name: w for w in (EncServe, AnnIngest)}
