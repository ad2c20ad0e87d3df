"""Deduplication operators for training-data pipelines.

The reference's only dedup is keep-best-score-per-distinct-text
(reference src/app.py:246-251). Generalized here into the standard
large-corpus family:

- exact dedup          — hash groupBy on a normalized fingerprint
- MinHash + LSH        — shingle → minhash signature → band → bucket join
- n-gram Jaccard       — verified pairwise similarity on band candidates
- embedding near-dup   — cosine self-join above a threshold

Scale notes: every variant is banding/bucketing first, pairwise second —
the pairwise verification only ever runs on same-bucket candidates, so
cost is O(corpus) + O(candidate pairs), never O(n^2). The md5 hash
family keeps DuckDB-oracle parity; swap ``functions.hashing.
minhash_xxhash`` in at cluster scale.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from cyborgdb_encrypted_vector_search_spark.caching import (
    snap_plan as _snap_plan,
    track,
)
from cyborgdb_encrypted_vector_search_spark.functions import hashing as H
from cyborgdb_encrypted_vector_search_spark.functions import vector as V


def dedup_keep_best(
    df: DataFrame, key_col: str, score_col: str
) -> DataFrame:
    """Keep the best-scoring row per key (reference src/app.py:246-251:
    dict-overwrite keeps max score per text). Hash aggregate — one
    shuffle on the key, map-side partial max first."""
    return df.groupBy(key_col).agg(F.max(score_col).alias(score_col))


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates (normalized md5 fingerprint).

    Returns (fingerprint, n_docs, doc_ids sorted) for groups with >1 doc.
    One shuffle on a 32-char key; at 100 TB you'd use the xxhash64
    fingerprint to shrink the key to 8 bytes.
    """
    return (
        df.select(
            F.col(id_col), H.fingerprint_md5(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """(id, signature array<string>) per document.

    Shingles are materialized as a column in their own projection before
    the signature projection: the num_hashes array_min expressions all
    reference the same attribute, so shingling (normalize + split +
    slice-join per shingle) runs once per row instead of once per hash
    function — an ~8x saving that Catalyst's CollapseProject correctly
    declines to undo (non-cheap attribute referenced many times).
    """
    shingled = df.select(
        F.col(id_col), H.word_shingles(F.col(text_col), shingle_len).alias("__sh")
    )
    return shingled.select(
        F.col(id_col), H.minhash_md5(F.col("__sh"), num_hashes).alias("signature")
    )


def _rows_per_band(num_hashes: int, num_bands: int) -> int:
    """Rows per MinHash band. The hashes must split evenly into at least
    one row per band: a remainder would be silently dropped, and zero
    rows per band makes every band key equal, pairing every document."""
    if num_bands < 1 or num_hashes < num_bands or num_hashes % num_bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by num_bands ({num_bands})"
        )
    return num_hashes // num_bands


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash banding.

    explode(bands) → self-join on band key → distinct (a, b) with a < b.
    The join key is the band hash, so co-bucketed docs collide without
    any pairwise scan. Returns (doc_a, doc_b).
    """
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    sig = minhash_signatures(df, id_col, text_col, shingle_len, num_hashes)
    banded = sig.select(
        F.col(id_col).alias("doc"),
        F.explode(H.minhash_bands(F.col("signature"), num_bands, rows_per_band)).alias(
            "band"
        ),
    )
    # Self-join: without persist, the whole shingle+minhash lineage is
    # recomputed for BOTH join sides. The banded frame is tiny relative
    # to the corpus (id + band key per band), so materializing it is the
    # cluster-scale move too (a signature table you'd checkpoint).
    # Tracked, so caching.release_all() frees it with the rest.
    banded = track(banded.persist())
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="band")
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def incremental_lsh_matches(
    base: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
    base_banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup matches of a NEW batch against an EXISTING corpus.

    The incremental-ingest shape: the corpus side is banded once (in
    production a persisted signature index, re-read per batch — never
    re-shingled), the small batch side is banded and BROADCAST, so each
    ingest costs one scan of the corpus signatures and zero shuffles of
    corpus data — not the O(corpus^2) a naive re-run of pairwise dedup
    would imply. Pass ``base_banded`` (base_id, band — e.g. from
    ``band_index``) to reuse the persisted corpus index; otherwise the
    base side is banded inline. Returns distinct (batch_id, base_id)
    candidate pairs; chase with ngram_jaccard_pairs on the candidates
    to verify.
    """
    rows_per_band = num_hashes // num_bands

    def _banded(df: DataFrame, out: str) -> DataFrame:
        sig = minhash_signatures(df, id_col, text_col, shingle_len, num_hashes)
        return sig.select(
            F.col(id_col).alias(out),
            F.explode(
                H.minhash_bands(F.col("signature"), num_bands, rows_per_band)
            ).alias("band"),
        )

    base_side = (
        base_banded.select(F.col(id_col).alias("base_id"), "band")
        if base_banded is not None
        else _banded(base, "base_id")
    )
    return (
        base_side
        .join(F.broadcast(_banded(batch, "batch_id")), on="band")
        .select("batch_id", "base_id")
        .distinct()
    )


def band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
) -> DataFrame:
    """The corpus MinHash band index: (id, band) — the structure a
    100 TB dedup pipeline persists at build time and re-reads on every
    ingest batch instead of re-shingling the corpus."""
    rows_per_band = num_hashes // num_bands
    sig = minhash_signatures(df, id_col, text_col, shingle_len, num_hashes)
    return sig.select(
        F.col(id_col),
        F.explode(
            H.minhash_bands(F.col("signature"), num_bands, rows_per_band)
        ).alias("band"),
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the duplicate-pair graph by iterative
    min-label propagation: each node's component id converges to the
    smallest node id reachable from it. Returns (node, component).

    This is the step that turns pairwise near-dup evidence (LSH bands,
    SimHash blocks) into duplicate CLUSTERS — pairs alone under-remove:
    A~B and B~C must collapse to one surviving doc even when A~C was
    never emitted as a pair.

    Scale shape: per round, one shuffle join (edges ⋈ labels on node)
    plus one min-aggregate — both partitioned on the node id, so AQE
    coalesces them onto the same exchange. Rounds = label eccentricity
    (bounded by graph diameter); duplicate CLUSTERS are near-cliques
    (2-4 rounds), but band evidence CHAINS across perturbation
    generations — the sf0.1 LSH pair graph measures 24 rounds through a
    4,605-node chained component, which is why the default cap is 50,
    not the near-clique 25 (converged loops break early, so slack is
    free). For adversarial long-chain graphs use
    connected_components_star below — the large-star/small-star
    contraction (Kiveris et al., SoCC'14), same (node, component)
    contract, O(log n) rounds (a round cap here would MISLABEL a chain
    longer than it; the property suite pins both).
    Each round's labels are localCheckpoint-ed: iterative
    self-referencing plans otherwise grow multiplicatively and blow up
    the driver (analysis + task serialization) long before the data
    does — the checkpoint truncates lineage so every round pays only
    its own join, on a 1 GB driver or a 1000-executor cluster alike.
    """
    # Undirected: propagate along both edge directions.
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    edges = fwd.unionByName(rev).distinct().persist()
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    # Empty-graph short-circuit: one round of joins/aggregates over
    # empty frames still launches every stage (~4s of pure scheduling
    # floor in local mode, measured via scan_clusters' empty core
    # subgraph at sf0.1) — the count on the just-persisted edge set is
    # far cheaper than the no-op round it avoids.
    if edges.count() == 0:
        edges.unpersist()
        return labels.select("node", "component")
    # Convergence probe: labels only ever DECREASE (min-aggregate of a
    # superset), so Σ component is strictly monotone until the fixed
    # point — one aggregate per round on the freshly checkpointed
    # labels replaces the old join-old-vs-new probe (one exchange
    # cheaper per round). Decimal sum: exact, overflow-free for any id
    # range. INTEGRAL ids only: casting string doc ids to decimal
    # yields NULL (non-ANSI) or errors (ANSI), and a NULL sum would
    # compare equal every round — silently-split components; fractional
    # ids (float/double) are equally unsafe because decimal(38,0)
    # ROUNDS them, so two distinct label states can share a sum (e.g.
    # labels {1.4,1.2,1.0} and {1.2,1.0,1.0} both sum to 3). Exact
    # DECIMAL(p, 0) ids are as safe as integers PROVIDED the sum has
    # headroom: the probe's explicit cast fixes the accumulator at
    # decimal(38,0) (sum of decimal(38,0) stays decimal(38,0) — no
    # precision promotion is available above the cap), so p <= 28
    # guarantees >= 10 digits of slack in that fixed accumulator
    # (the same margin integers get: 19-digit longs in a 38-digit
    # accumulator) while p > 28 can overflow that accumulator — ANSI
    # crashes the round, non-ANSI yields NULL sums that compare equal
    # every round and silently split components (caught
    # by review in r10; pinned by
    # test_min_label_wide_decimal_ids_use_changed_row_probe). Every
    # other label type keeps the type-agnostic changed-row probe (one
    # join per round instead of one aggregate).
    from pyspark.sql.types import DecimalType, IntegralType

    _label_type = labels.schema["component"].dataType
    numeric_ids = isinstance(_label_type, IntegralType) or (
        isinstance(_label_type, DecimalType)
        and _label_type.scale == 0
        and _label_type.precision <= 28
    )
    prev_sum = (
        labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if numeric_ids
        else None
    )
    converged = False
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges["a"] == labels["node"]
        ).select(F.col("b").alias("node"), F.col("component"))
        new_labels = (
            labels.select("node", "component")
            .unionByName(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()  # truncate lineage + cache this round
        )
        if numeric_ids:
            new_sum = new_labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            round_converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            round_converged = (
                new_labels.alias("n")
                .join(
                    labels.select(
                        "node", F.col("component").alias("__old")
                    ),
                    "node",
                )
                .filter(F.col("component") != F.col("__old"))
                .limit(1)
                .count()
                == 0
            )
        labels.unpersist()
        labels = new_labels
        if round_converged:
            converged = True
            break
    if not converged:
        # labels are still propagating: a component wider than max_iter
        # hops would be silently SPLIT into several labels. Duplicate
        # clusters are near-cliques so this never fires there; chain-y
        # graphs belong on connected_components_star (O(log n) rounds).
        log.warning(
            "connected_components: not converged after max_iter=%d "
            "rounds — components wider than that many hops are split; "
            "use connected_components_star for high-diameter graphs",
            max_iter,
        )
    edges.unpersist()
    return labels.select("node", "component")


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — the O(log n)-round alternative to
    connected_components' min-label propagation, whose round count is
    the graph DIAMETER (fine for near-clique duplicate clusters,
    adversarial on chains: a path graph of length L needs L min-label
    rounds but only ~log L contraction rounds — both measured in the
    property suite and docs/COSTS.md).

    Same (node, component) contract as connected_components: every
    node of ``pairs`` labeled with the smallest node id reachable from
    it (both operations attach nodes to local minima; the fixed point
    is a star rooted at each component's global minimum).

    Per round: LARGE-STAR — for every node u, connect each strictly
    larger neighbor to min(Γ(u) ∪ {u}); SMALL-STAR — direct edges
    large→small, and for every node u connect itself and all smaller
    neighbors to their minimum. Each phase is one groupBy(min) + one
    keyed join; rounds are O(log n) on any graph. Every round's edge
    set is localCheckpoint-ed (same lineage-truncation discipline as
    the min-label loop); convergence = the edge set is unchanged
    (checked with one anti-join probe — both sides are distinct sets,
    so equal counts + empty difference ⇒ equal sets).

    ``stats``, when given, receives {'rounds': N} — the property tests
    pin the O(log n) round count on the path fixture with it.
    """
    fwd = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    rev = pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    unfiltered = fwd.unionByName(rev)
    sym0 = unfiltered.filter(F.col("a") != F.col("b"))
    # nodes come from the UNFILTERED union: a node whose only
    # incidences are self-pairs must still be labeled (with itself) —
    # the same contract as connected_components. Single-use frames
    # stay lazy: nodes is read once by the final label join, and the
    # loop's own checkpoints bound all lineage — extra persists here
    # were measurable action-floor in local mode.
    nodes = unfiltered.select(F.col("a").alias("node")).distinct()
    # edges directed large -> small (the small-star invariant; also the
    # canonical storage form between rounds)
    e = (
        sym0.filter(F.col("a") > F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_e = e.count()
    if n_e == 0:
        # Empty-graph short-circuit (same rationale as the min-label
        # loop's): with no contractible edges every node is its own
        # component, and skipping the parents aggregate + left join
        # saves ~4 stage launches of pure local-mode scheduling floor —
        # scan_clusters hits this path whenever the ε/μ gate yields no
        # core-core edges (measured: the whole sf0.1 co-purchase core
        # subgraph is empty at ε=0.45).
        if stats is not None:
            stats["rounds"] = 0
        return nodes.withColumn("component", F.col("node"))
    def _contract_once(cur: DataFrame, bcast: bool) -> DataFrame:
        """One large-star + small-star pass over large->small edges
        (lazy — the caller decides materialization).

        LARGE-STAR: symmetric adjacency; m(u) = min(Γ(u) ∪ {u}); emit
        (v, m(u)) for every neighbor v > u — stays large -> small
        because v > u >= m(u). No distinct on the intermediate (r12):
        both consumers tolerate duplicate rows — min is
        duplicate-insensitive and the small-star distinct dedups the
        stored set — so the extra exchange bought nothing.
        SMALL-STAR: key each node u over its smaller neighbors; attach
        u and all of them to the minimum.

        ``bcast`` (cost probe, r12): the per-node min tables are O(n)
        rows with n bounded by the node count; while they comfortably
        broadcast (~16 B/row, same bound class as pagerank's
        broadcast_ranks and the support kernel's small_adj), the two
        attach joins stream sym/large with NO shuffle. Big graphs keep
        the scale-safe shuffle joins."""
        sym = cur.unionAll(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("__mb"))
            .select("a", F.least("__mb", "a").alias("m"))
        )
        large = (
            sym.join(F.broadcast(mins) if bcast else mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        return (
            large.join(F.broadcast(mins2) if bcast else mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionAll(mins2.select(F.col("a"), F.col("m").alias("b")))
            .distinct()
        )

    rounds = 0
    converged = False
    while n_e > 0 and rounds < max_iter:
        # (A two-rounds-per-materialization batch was measured in r12
        # and rejected: the deeper plan re-executes the intermediate
        # through the second round's broadcast builds and costs what
        # the saved checkpoint+count job bought.)
        bcast = 16 * 2 * n_e < (32 << 20)
        plan = _contract_once(e, bcast)
        _snap_plan("cc_star_round", plan)
        small = plan.localCheckpoint()
        n_new = small.count()
        rounds += 1
        if n_new == n_e:
            diff = (
                small.join(e, ["a", "b"], "left_anti").limit(1).count()
            )
            if diff == 0:
                e = small
                converged = True
                break
        e, n_e = small, n_new
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # the loop exhausted max_iter with edges still contracting:
        # parents below are intermediate, not component minima — the
        # same silent-wrong case connected_components warns about.
        # Kiveris et al. bound rounds by O(log² n) worst case, so 50
        # covers any real graph; this fires only on pathological input.
        log.warning(
            "connected_components_star: not converged after "
            "max_iter=%d rounds — labels may not be component minima",
            max_iter,
        )
    parents = e.groupBy("a").agg(F.min("b").alias("component"))
    return nodes.join(
        parents.withColumnRenamed("a", "node"), "node", "left"
    ).select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


# Bounded driver-side closure (r13, guide §1.5: fewer driver jobs).
# The entity-resolution paths close PAIR graphs whose labels are
# already shipped through the driver anyway (the comp/remap broadcast
# builds collect every row) — so under the same 32 MB comfort bound
# the closure itself runs there too: ONE collect + a union-find
# instead of the star-contraction loop's ~12 jobs (checkpoint + count
# + two broadcast builds per round). Over the bound, the distributed
# kernel runs unchanged; the dedup_components_star / SCAN consumers
# keep calling connected_components_star directly, so the distributed
# kernel's bench rows still price the distributed algorithm.
# The dedup broadcast comfort bound (same class as the CC round probe
# at `_contract_once`): ~16 B/row for the node-keyed tables, 2 per
# edge, under 32 MB -> 2^20 edges.
_ER_DRIVER_CLOSURE_CAP = (32 << 20) // 32


def _er_closure_bound(n_edges: int) -> bool:
    return n_edges <= _ER_DRIVER_CLOSURE_CAP


def _driver_closure_rows(rows) -> list[tuple]:
    """Union-find over collected (a, b) pairs; returns one
    (node, component) row per distinct endpoint with component = the
    smallest node id reachable from it — exactly
    connected_components_star's labeling contract."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    nodes: set = set()
    for a, b in rows:
        nodes.add(a)
        nodes.add(b)
    comp_min: dict = {}
    roots = {n: find(n) for n in nodes}
    for n, r in roots.items():
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return [(n, comp_min[roots[n]]) for n in sorted(nodes)]


def _closure_frame(pairs: DataFrame, rows) -> DataFrame:
    """Materialize a driver-computed closure as a (node, component)
    frame with the pair frame's id type."""
    from pyspark.sql.types import StructField, StructType

    t = pairs.schema[0].dataType
    schema = StructType(
        [
            StructField("node", t, False),
            StructField("component", t, False),
        ]
    )
    return pairs.sparkSession.createDataFrame(
        _driver_closure_rows(rows), schema
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Jaccard similarity over word n-gram shingle sets.

    If ``pairs`` (doc_a, doc_b) is given, verifies only those candidates
    (the scalable path: LSH first, verify second). Without it, verifies
    all id-ordered pairs — O(n^2), only for small/test corpora.
    Returns (doc_a, doc_b, jaccard).
    """
    shingled = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(H.word_shingles(F.col(text_col), shingle_len)).alias("__sh"),
    )
    if pairs is None:
        a = shingled.alias("a")
        b = shingled.alias("b")
        joined = a.crossJoin(b).filter(F.col("a.__id") < F.col("b.__id"))
    else:
        a = shingled.alias("a")
        b = shingled.alias("b")
        joined = (
            pairs.join(a, pairs["doc_a"] == F.col("a.__id"))
            .join(b, pairs["doc_b"] == F.col("b.__id"))
        )
    inter = F.size(F.array_intersect(F.col("a.__sh"), F.col("b.__sh")))
    union = F.size(F.array_union(F.col("a.__sh"), F.col("b.__sh")))
    jac = F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    return (
        joined.select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.round(jac, 7).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) via explode → codegen projection → hash aggregate.

    Equivalent to functions.hashing.simhash32 but restructured for
    scale: instead of 32 *interpreted* array folds per row (higher-order
    functions don't codegen), each token becomes a row with 32 cheap
    bit-contribution columns (whole-stage codegen'd int ops), then one
    map-side-partial aggregation per document sums them and packs the
    sign bits. Integer sums are order-independent, so results are
    bit-identical to the fold formulation and the SQL oracle.
    """
    from cyborgdb_encrypted_vector_search_spark.functions import text as X

    # explode_outer: token-less documents keep one null row -> null
    # contributions -> all-zero sums -> simhash 0, matching the fold
    # formulation (list_sum over empty -> NULL -> bit 0) row-for-row.
    # One string op per token (hex -> bigint via conv), then pure integer
    # bit extraction. Hex char p (1-indexed, most significant first)
    # occupies bits (8-p)*4..(8-p)*4+3 of the converted int, so the
    # fold formulation's "bit b of hex digit p" is bit (8-p)*4 + b here
    # - bit-identical to the per-nibble instr/substring formulation but
    # ~32x less string work per token row.
    toks = df.select(
        F.col(id_col),
        F.explode_outer(X.tokens(F.col(text_col))).alias("__tok"),
    ).withColumn(
        "__h32", F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("bigint")
    )
    contribs = []
    for j in range(32):
        p, b = j // 4 + 1, j % 4
        bit = (8 - p) * 4 + b
        contribs.append(
            (
                F.shiftright(F.col("__h32"), bit).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"__b{j}")
        )
    contrib_df = toks.select(F.col(id_col), *contribs)
    agg = contrib_df.groupBy(id_col).agg(
        *[F.sum(f"__b{j}").alias(f"__s{j}") for j in range(32)]
    )
    fingerprint = F.lit(0).cast("bigint")
    for j in range(32):
        fingerprint = fingerprint + F.when(
            F.col(f"__s{j}") > 0, F.lit(1 << j)
        ).otherwise(F.lit(0)).cast("bigint")
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def lsh_candidate_pairs_xxhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_len: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
) -> DataFrame:
    """Fast-path twin of :func:`lsh_candidate_pairs`: xxhash64 minhashes
    (array<long> signature) and 8-byte band keys instead of md5 hex
    strings — the variant to run at cluster scale (smaller rows, no hex
    materialization, cheaper shuffle + join probe). Not oracle-portable;
    recall behavior is statistically identical (same banding math over a
    different uniform hash family)."""
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    shingled = df.select(
        F.col(id_col), H.word_shingles(F.col(text_col), shingle_len).alias("__sh")
    )
    sig = shingled.select(
        F.col(id_col), H.minhash_xxhash(F.col("__sh"), num_hashes).alias("signature")
    )
    banded = track(
        sig.select(
            F.col(id_col).alias("doc"),
            F.explode(
                H.minhash_bands_xxhash(F.col("signature"), num_bands, rows_per_band)
            ).alias("band"),
        ).persist()
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="band")
        .filter(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )


def simhash_fingerprints_xxhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 32,
) -> DataFrame:
    """Fast-path twin of :func:`simhash_fingerprints`: SimHash bits come
    from ONE xxhash64 call per token row — no md5 hex string, no conv().

    Same explode → codegen'd bit-contribution columns → one map-side
    partial aggregation shape. ``num_bits`` ≤ 64; the aggregation cost
    scales with bit width (it's one SUM column per bit), so 32 matches
    the md5 variant's cost profile while 64 halves random collisions at
    the same Hamming threshold. Pair with ``hamming32``
    (bit_count(xor) is width-agnostic)."""
    from cyborgdb_encrypted_vector_search_spark.functions import text as X

    toks = df.select(
        F.col(id_col),
        F.explode_outer(X.tokens(F.col(text_col))).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))
    contribs = [
        (
            F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
        ).alias(f"__b{j}")
        for j in range(num_bits)
    ]
    contrib_df = toks.select(F.col(id_col), *contribs)
    agg = contrib_df.groupBy(id_col).agg(
        *[F.sum(f"__b{j}").alias(f"__s{j}") for j in range(num_bits)]
    )
    fingerprint = F.lit(0).cast("bigint")
    for j in range(num_bits):
        fingerprint = fingerprint + F.when(
            F.col(f"__s{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)
        ).otherwise(F.lit(0).cast("bigint"))
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_block_candidates(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    num_blocks: int = 4,
    bits_per_block: int = 8,
    max_hamming: int = 3,
    candidates_only: bool = False,
) -> DataFrame:
    """Width-generic pigeonhole blocking over SimHash fingerprints:
    verified (doc_a, doc_b, hamming) pairs from any fingerprint width.
    With ``candidates_only`` the Hamming verification is skipped and the
    raw distinct candidate pairs come back — the knob for measuring how
    much a wider block key cuts the candidate set.

    Recall is exact by pigeonhole as long as ``num_blocks >
    max_hamming``: at most ``max_hamming`` blocks can differ, so two
    fingerprints within the threshold share >= 1 identical block and
    meet in the equi-join. Join fan-out per (blk, key) bucket is ~
    N / 2^bits_per_block — this is THE scale knob: the oracle-gated
    32-bit pipeline uses 4x8-bit keys (256 buckets/block); at 100 TB
    pair :func:`simhash_fingerprints_xxhash` (64-bit) with 4x16-bit
    keys for 65536 buckets/block, a 256x candidate-set cut at equal
    recall. Hamming verification (bit_count of xor) is width-agnostic.
    """
    if num_blocks <= max_hamming:
        raise ValueError(
            f"num_blocks ({num_blocks}) must exceed max_hamming "
            f"({max_hamming}) for exact pigeonhole recall"
        )
    mask = (1 << bits_per_block) - 1
    blocked = fps.select(
        F.col(id_col).alias("__id"),
        F.col(fp_col).alias("__fp"),
        F.explode(F.array(*[F.lit(i) for i in range(num_blocks)])).alias("blk"),
    ).withColumn(
        "blk_key", F.expr(f"shiftright(__fp, blk * {bits_per_block}) & {mask}")
    )
    l, r = blocked.alias("l"), blocked.alias("r")
    joined = l.join(
        r,
        (F.col("l.blk") == F.col("r.blk"))
        & (F.col("l.blk_key") == F.col("r.blk_key"))
        & (F.col("l.__id") < F.col("r.__id")),
    )
    if candidates_only:
        return joined.select(
            F.col("l.__id").alias("doc_a"),
            F.col("r.__id").alias("doc_b"),
        ).distinct()
    return (
        joined.select(
            F.col("l.__id").alias("doc_a"),
            F.col("r.__id").alias("doc_b"),
            H.hamming32(F.col("l.__fp"), F.col("r.__fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_duplicates_blocked(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup via per-block BLAS: group by the blocking key
    (IVF centroid / LSH bucket / label), compute the full within-block
    cosine matrix with one numpy matmul per block inside applyInPandas,
    emit pairs >= threshold.

    Why not the pure-expression join: Spark's higher-order-function
    folds are interpreted (excluded from whole-stage codegen), so at
    ~200k pairs the JVM fold loses to one Arrow transfer + BLAS. Blocks
    are bounded by construction (that's what the blocking key is for),
    so per-task memory is bounded too — this is the 100 TB shape.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        safe = np.where(norms == 0, 1.0, norms)
        unit = mat / safe[:, None]
        sims = unit @ unit.T
        zero = norms == 0
        sims[zero, :] = -1.0
        sims[:, zero] = -1.0
        iu, ju = np.triu_indices(len(ids), k=1)
        cs = np.round(sims[iu, ju], 7)
        keep = cs >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        swap = a > b
        a2 = np.where(swap, b, a)
        b2 = np.where(swap, a, b)
        return pd.DataFrame({"id_a": a2, "id_b": b2, "cos": cs[keep]})

    return (
        embeddings.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, out_schema)
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pairs of vectors with cosine similarity >= threshold.

    Vectors are unit-normalized once per row BEFORE the self-join, so
    each pair costs one dot-product fold (not five). Test-scale
    implementation is the exact self-join; at cluster scale route
    candidates through LSH/IVF bucketing first (operators.ann) and
    verify with this same expression.
    """
    un = V.with_unit_vectors(
        embeddings.select(id_col, vec_col), vec_col, "__unit", "__nrm"
    )
    a = un.select(
        F.col(id_col).alias("id_a"),
        F.col("__unit").alias("__ua"),
        F.col("__nrm").alias("__na"),
    )
    b = un.select(
        F.col(id_col).alias("id_b"),
        F.col("__unit").alias("__ub"),
        F.col("__nrm").alias("__nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", F.round(V.unit_cosine("__ua", "__ub", "__na", "__nb"), 7)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """MOSS-style winnowed document fingerprints: (id, fp) pairs.

    Rolling-hash fingerprinting as used in plagiarism/copy detection
    (Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for
    Document Fingerprinting", SIGMOD 2003): hash every character
    ``k``-gram of the normalized text, then keep the minimum hash of
    each window of ``w`` consecutive grams. Any shared substring of
    length >= k + w - 1 is guaranteed to contribute at least one shared
    fingerprint, so containment of the fingerprint sets lower-bounds
    substring overlap.

    Everything stays JVM-side: sequence+explode generates gram
    positions (whole-stage codegen), md5 hashes the gram, and the
    rolling min is a rows-frame window partitioned by document — one
    shuffle on the document id. Hashes are kept as 8-hex-char strings
    so lexicographic MIN agrees bit-for-bit with the SQL oracle.
    """
    from pyspark.sql import Window

    norm = df.select(
        F.col(id_col), H.normalize_text(F.col(text_col)).alias("__t")
    ).filter(F.length("__t") >= k)
    grams = norm.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(sequence(1, length(__t) - {k - 1}), "
                   f"p -> substring(__t, p, {k}))")
        ).alias("__p", "__g"),
    ).select(
        F.col(id_col),
        (F.col("__p") + 1).alias("__p"),
        F.substring(F.md5("__g"), 1, 8).alias("__fp8"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("__p").rowsBetween(0, w - 1)
    )
    return (
        grams.select(
            F.col(id_col), F.min("__fp8").over(win).alias("fp")
        )
        .distinct()
    )


def substring_window_pairs(
    corpus: DataFrame,
    window: int = 40,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring near-dup detection: pairs of documents sharing
    ANY exact ``window``-char substring (the "exact substring
    deduplication" family of Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022 — re-shaped from their
    suffix array to a hash-blocking dataflow Spark executes well).

    Plan: every document emits its rolling windows (one codegen'd
    ``transform(sequence(...))`` projection — no UDF), each window is
    collapsed to a 64-bit xxhash so the shuffle carries (long, id)
    pairs instead of 40-char strings, per-doc repeats are dropped, and
    documents sharing a window hash become candidate pairs via a
    bucketed self-join — identical shape to the LSH band join, so cost
    is O(Σ bucket²) with buckets ~ true duplicates, never all-pairs.

    ``max_df`` drops window hashes appearing in more than that many
    documents (boilerplate headers/footers — the same stop-shingle
    guard MinHash pipelines use) — at 100 TB this bounds the worst
    bucket. Stride-1 windows are O(total chars): linear but heavy; a
    production sweep strides one join side or winnows (see
    winnow_fingerprints) first, paying a detection-length floor of
    window+stride-1.
    """
    wins = window_hashes(corpus, window, id_col, text_col)
    # ONE shuffle does per-doc dedup + grouping: collect_set per window
    # hash (map-side partial sets combine), then pairs are generated
    # NARROWLY from each sorted group — no second shuffle for a
    # self-join, and max_df is a free size() filter on the group.
    groups = wins.groupBy("wh").agg(F.collect_set("doc_id").alias("ds"))
    if max_df is not None:
        groups = groups.filter(F.size("ds") <= max_df)
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        groups.filter(F.size("ds") >= 2)
        .select(F.array_sort("ds").alias("ds"))
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def window_hashes(
    corpus: DataFrame,
    window: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, wh) rolling-window hash frame: every ``window``-char
    substring of each document collapsed to a 64-bit xxhash — one
    codegen'd transform + explode, no UDF. This IS the persisted
    corpus index of the exact-substring dedup family (analogous to the
    MinHash band index): build once per corpus version, probe per
    batch. Per-doc repeats are NOT dropped here (the consumers'
    groupBy/join dedups them with the same shuffle they already pay)."""
    eligible = corpus.filter(F.length(text_col) >= window)
    return eligible.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {window - 1}),"
                f" i -> xxhash64(substring({text_col}, i, {window})))"
            )
        ).alias("wh"),
    )


def incremental_substring_matches(
    base: DataFrame,
    batch: DataFrame,
    window: int = 40,
    max_df: int | None = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    base_windows: DataFrame | None = None,
) -> DataFrame:
    """Incremental exact-substring dedup: match ONLY the new ingest
    batch against the existing corpus — (batch_id, base_id) pairs
    sharing any exact ``window``-char substring. The corpus side is the
    persisted window-hash index (``base_windows``, see window_hashes /
    registry.window_hash_index) scanned once; the batch side is small
    and BROADCASTS into the join, so per-batch cost is O(batch +
    index scan), never O(corpus²) and never re-windowing the corpus.
    ``max_df`` drops corpus window hashes appearing in more than that
    many corpus documents (boilerplate; an index-build-time property —
    at 100 TB you store the df count next to the hash)."""
    idx = (
        base_windows
        if base_windows is not None
        else window_hashes(base, window, id_col, text_col)
    ).select("doc_id", "wh").distinct()
    if max_df is not None:
        ok = (
            idx.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("wh")
        )
        idx = idx.join(ok, "wh", "left_semi")
    bw = (
        window_hashes(batch, window, id_col, text_col)
        .select(F.col("doc_id").alias("batch_id"), "wh")
        .distinct()
    )
    return (
        idx.join(F.broadcast(bw), "wh")
        .select("batch_id", F.col("doc_id").alias("base_id"))
        .distinct()
    )


def semantic_prune(
    assigned: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "centroid_id",
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the corpus by embedding geometry (here:
    the IVF coarse assignment the engine already maintains), compare
    pairs ONLY within a cluster, and greedily prune every item that has
    a lower-id near-duplicate in its cluster — one survivor per
    near-dup chain.

    Returns one row per PRUNED item: (id, block, witness, n_witnesses)
    where witness is the smallest same-cluster id with cosine >=
    threshold (the survivor that made this row redundant).

    Scale shape: identical to embedding_near_duplicates_blocked — the
    pairwise stage is one BLAS matmul per cluster inside applyInPandas,
    O(sum cluster_size^2) not O(corpus^2), and cluster sizes are
    bounded by the k-means k chosen at index build. The prune decision
    is a single map-side-combinable groupBy on the pruned id. Reuses
    the IVF assignment (sources.registry.ivf_index), so a corpus that
    already carries an ANN index pays nothing extra for the blocking.
    """
    pairs = embedding_near_duplicates_blocked(
        assigned, block_col=block_col, threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    blocks = assigned.select(
        F.col(id_col).alias("id_b"), F.col(block_col).alias("__blk")
    )
    return (
        pairs.groupBy("id_b")
        .agg(
            F.min("id_a").cast("bigint").alias("witness"),
            F.count(F.lit(1)).cast("bigint").alias("n_witnesses"),
        )
        .join(F.broadcast(blocks), "id_b")
        .select(
            F.col("id_b").alias(id_col),
            F.col("__blk").alias(block_col),
            "witness",
            "n_witnesses",
        )
    )


def containment_pairs(
    corpus: DataFrame,
    window: int = 40,
    threshold: float = 0.5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directional containment C(A,B) = |S(A) ∩ S(B)| / |S(A)| over
    ``window``-char shingle sets — catches "A is mostly contained in
    B" (quote inclusion, boilerplate wrapping, partial copies) that
    symmetric Jaccard under-scores when |B| >> |A|.

    Exact, via the inverted-index join (never all-pairs): distinct
    per-doc shingle hashes self-join on the 64-bit hash, so candidate
    pairs are generated ONLY where a shingle is actually shared, and
    the intersection count is the join's group size. Per-doc set sizes
    come from the same shingle frame. ``max_df`` (optional) drops
    shingles shared by more than that many docs before the join — the
    boilerplate-explosion guard for web-scale corpora (same knob as
    incremental_substring_matches); leave None for oracle-exact output.

    Returns (id_a, id_b, containment) with containment rounded to 7dp,
    filtered to >= threshold. Directional: (a,b) and (b,a) are distinct
    rows. 64-bit hashing stands in for raw shingles (8-byte shuffle
    keys); a collision would only ever ADD an intersection row, which
    differential testing against a raw-string oracle would surface.
    """
    sh = window_hashes(corpus, window, id_col, text_col).distinct()
    if max_df is not None:
        ok = (
            sh.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("wh")
        )
        sh = sh.join(ok, "wh", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "wh")
    b = sh.select(F.col("doc_id").alias("id_b"), "wh")
    inter = (
        a.join(b, "wh")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumn(
            "containment",
            F.round(F.col("__inter") / F.col("__n"), 7),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def editdist_pairs(
    corpus: DataFrame,
    max_dist: int = 2,
    window: int = 25,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance similarity join: every pair of eligible documents
    with ``levenshtein <= max_dist`` — the fuzzy-duplicate family exact
    n-gram / MinHash blocking cannot express (it has no edit-script
    guarantee).

    All-pairs levenshtein is O(n² · len²) — never viable. Blocking is
    the PIGEONHOLE guarantee instead: an edit script of d operations
    splits the source string into at most d+1 verbatim runs that also
    appear in the target, jointly covering >= len-d characters, so the
    longest shared run has length >= (len-d)/(d+1). Documents of
    length >= ``(d+1)*window + d`` within distance d therefore SHARE AN
    EXACT ``window``-char substring — the same rolling-window-hash
    inverted index as substring_window_pairs generates a candidate set
    that is provably COMPLETE for eligible pairs, and exact
    ``F.levenshtein`` verifies only those candidates (output-bound
    work, never corpus²). Shorter documents are excluded by the length
    floor; lower ``window`` to cover them (more candidates per doc).

    Sharing ONE window is necessary but weak (corpora reuse template
    phrases), so candidates are COUNT-filtered before the DP: the same
    run decomposition shows that at least
    ``len(a) - d - (d+1)*(window-1)`` POSITIONS of doc_a carry a
    window that is a substring of doc_b (each preserved run of length
    L contributes L-window+1 of them — positions, not distinct
    strings, so the bound survives repetitive text where distinct
    windows collapse), while a pair that merely shares a phrase
    matches a handful. The count comes from joining doc_a's
    POSITIONAL window stream against doc_b's distinct window set, so
    levenshtein runs on nearly-only-true pairs. Both filters are
    implied by dist<=d: provably lossless.

    ``max_df`` drops boilerplate windows before the join (the standard
    stop-shingle guard — at web scale a shared header would otherwise
    create one quadratic bucket; it weakens the count bound, so it is
    an explicit approximation knob); leave None for provably-complete
    output. Returns (doc_a, doc_b, dist) with doc_a < doc_b.
    """
    min_len = (max_dist + 1) * window + max_dist
    eligible = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).filter(F.length("text") >= min_len)
    wpos = window_hashes(eligible, window)  # every position
    wset = wpos.distinct()
    if max_df is not None:
        ok = (
            wset.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("wh")
        )
        wpos = wpos.join(ok, "wh", "left_semi")
        wset = wset.join(ok, "wh", "left_semi")
    shared = (
        wpos.select(F.col("doc_id").alias("doc_a"), "wh")
        .join(wset.select(F.col("doc_id").alias("doc_b"), "wh"), "wh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    a = eligible.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("__ta")
    )
    b = eligible.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("__tb")
    )
    # positions of doc_a guaranteed to match into doc_b's window set
    # when ed(a,b) <= d — uses doc_a's OWN length (the run argument
    # holds from either side of a symmetric distance)
    need = F.length("__ta") - F.lit(
        max_dist + (max_dist + 1) * (window - 1)
    )
    return (
        # merge-join hints: on a duplicate-dense corpus the candidate
        # frame dwarfs the text frame, and size estimates made AFTER
        # the expanding inverted-index join are unreliable — a wrong
        # broadcast pick here OOMs the driver (observed on the 16x
        # curve); sort-merge is the safe shape at every scale
        shared.hint("merge")
        .join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        # cheap necessary conditions first: a true d-edit pair can't
        # differ by more than d chars, and doc_a must have at least
        # `need` window positions matching into doc_b — most
        # candidates skip the DP entirely
        .filter(
            F.abs(F.length("__ta") - F.length("__tb")) <= max_dist
        )
        .filter(F.col("__shared") >= F.greatest(F.lit(1), need))
        .withColumn(
            "dist", F.levenshtein("__ta", "__tb").cast("bigint")
        )
        .filter(F.col("dist") <= max_dist)
        .select("doc_a", "doc_b", "dist")
    )


def _er_keyed(records: DataFrame, id_col: str, block_exprs) -> DataFrame:
    """Project a record frame onto one blocking pass's key space:
    (_bk struct, _rid, _row full-record struct), with NULL-key records
    removed — SQL equality semantics say a NULL key matches nothing,
    and enforcing that here (rather than letting the self-join's
    null-safe behavior decide) keeps both engines' edge sets
    identical. Shared by resolve_entities and its incremental twin so
    the two paths can never disagree on what a block contains."""
    from pyspark.sql import Column

    cols = [c if isinstance(c, Column) else F.col(c) for c in block_exprs]
    return records.select(
        F.struct(*cols).alias("_bk"),
        F.col(id_col).alias("_rid"),
        F.struct(*records.columns).alias("_row"),
    ).filter(
        F.forall(
            F.array(*[F.isnull(c).cast("int") for c in cols]),
            lambda x: x == 0,
        )
    )


def resolve_entities(
    records: DataFrame,
    id_col: str,
    passes,
    max_block: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Entity resolution (record linkage): multi-pass blocking →
    in-block pair predicate → connected components → one entity label
    per record. The classic training-data op the dedup family doesn't
    cover: near-duplicate DOCUMENTS share content, while duplicate
    ENTITIES share identity across heterogeneous representations
    (case/format variants, appended noise, alternate keys), so no
    single similarity pass finds them — each blocking pass catches a
    different variant axis and the component closure merges the
    evidence.

    ``passes`` is a sequence of ``(block_exprs, predicate)``:
    ``block_exprs`` (list of Column/str) define the blocking key —
    only records agreeing on it are paired (NULL keys never block:
    SQL equality semantics, enforced here explicitly) — and
    ``predicate(a, b)`` takes two struct Columns carrying the full
    record and returns the match condition evaluated INSIDE the block.

    Scale shape: each pass is one self-equi-join on the blocking key
    (shuffle on that key, pairs bounded per block), never an all-pairs
    product; blocks larger than ``max_block`` are DROPPED LOUDLY
    (logged with their keys' count) exactly like the co-occurrence
    hub cap — an oversized block means the blocking key is broken,
    and silently going quadratic on it would be the real failure.
    Cluster formation is large-star/small-star contraction (O(log n)
    rounds). Returns (``id_col``, entity) with entity = the smallest
    record id in the cluster; unmatched records resolve to themselves.

    ``stats``, when passed a dict, is populated in place with
    ``dropped_blocks`` (total oversized blocks dropped across passes)
    and ``dropped_blocks_per_pass`` — so a pipeline can ASSERT
    zero-drop instead of scraping the warning log (a dropped block
    means the blocking key was too coarse and the result is a
    documented under-approximation, which callers should fail loudly
    on unless they opted into it).
    """
    if stats is not None:
        stats["dropped_blocks_per_pass"] = []
        stats["dropped_blocks"] = 0
    if not passes:
        raise ValueError("resolve_entities requires at least one pass")
    # Persist the record frame once (r13, guide §5/§7.3): every pass
    # scans it three times (the oversized-block probe + both self-join
    # sides) and the final label join once more — ~7 scans of what may
    # be a derived multi-branch plan, and the UNPERSISTED form nested
    # that whole derivation into every consumer's plan (the gate's
    # executed plan was ~15k lines, with driver planning time to
    # match). One cache, InMemoryTableScan leaves everywhere.
    if not records.is_cached:
        records = track(records.persist())
    rec = records.select(
        F.col(id_col).alias("_rid"), F.struct(*records.columns).alias("_row")
    )
    # blocking expressions resolve against the ORIGINAL record
    # columns (they may be arbitrary Columns over them), so each
    # pass projects its key straight off `records`
    keyed_l = [_er_keyed(records, id_col, bx) for bx, _ in passes]
    over_l = [
        k.groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_block)
        .select("_bk")
        for k in keyed_l
    ]
    n_over_l = _er_drop_counts(over_l)
    edges = None
    for i, (block_exprs, predicate) in enumerate(passes):
        keyed, n_over = keyed_l[i], n_over_l[i]
        if stats is not None:
            stats["dropped_blocks_per_pass"].append(n_over)
            stats["dropped_blocks"] += n_over
        if n_over:
            log.warning(
                "resolve_entities: dropping %d blocks larger than "
                "max_block=%d — the blocking key is too coarse for "
                "this pass; its pairs would be quadratic",
                n_over,
                max_block,
            )
            keyed = keyed.join(over_l[i], "_bk", "left_anti")
        a = keyed.select(
            "_bk", F.col("_rid").alias("_ida"), F.col("_row").alias("_rowa")
        )
        b = keyed.select(
            "_bk", F.col("_rid").alias("_idb"), F.col("_row").alias("_rowb")
        )
        pairs = (
            a.join(b, "_bk")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(predicate(F.col("_rowa"), F.col("_rowb")))
            .select(F.col("_ida").alias("a"), F.col("_idb").alias("b"))
        )
        edges = pairs if edges is None else edges.unionByName(pairs)
    # Closure routing (r13): the pair set is output-bound (only
    # blocked candidate pairs that passed the predicate), usually far
    # smaller than the corpus. Persist it, probe with a capped limit-
    # collect (ONE job — if the cap is not hit, the collected rows ARE
    # the closure input), and close on the driver under the bound;
    # past the cap the star-contraction kernel runs unchanged over the
    # cache. (r12 note still holds: no .distinct() before the
    # distributed closure — the contraction loop dedups its canonical
    # edge set in its own first checkpoint.)
    edges = track(edges.persist())
    probe = edges.limit(_ER_DRIVER_CLOSURE_CAP + 1).collect()
    if _er_closure_bound(len(probe)):
        comp = F.broadcast(_closure_frame(edges, probe))
    else:
        comp = connected_components_star(edges, "a", "b")
    return (
        rec.join(comp, rec["_rid"] == comp["node"], "left")
        .select(
            F.col("_rid").alias(id_col),
            F.coalesce(F.col("component"), F.col("_rid")).alias("entity"),
        )
    )


def _er_drop_counts(over_l: list[DataFrame]) -> list[int]:
    """ONE driver job for every pass's oversized-block count (r12 —
    was one count job per pass): union the per-pass one-row count
    aggregates, tagged by pass index, and collect once. The counts
    feed the stats out-param and decide whether a pass needs its
    anti-join drop filter at all."""
    probe = None
    for i, ov in enumerate(over_l):
        c = ov.agg(F.count(F.lit(1)).alias("_n")).select(
            F.lit(i).alias("_p"), "_n"
        )
        probe = c if probe is None else probe.unionAll(c)
    by_pass = {r["_p"]: r["_n"] for r in probe.collect()}
    return [int(by_pass.get(i, 0)) for i in range(len(over_l))]


def resolve_entities_incremental(
    old_records: DataFrame,
    old_labels: DataFrame,
    new_records: DataFrame,
    id_col: str,
    passes,
    max_block: int = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """O(batch) incremental twin of :func:`resolve_entities` — the
    maintenance path a 100 TB pipeline actually runs: a resolved
    corpus (``old_records`` + its ``old_labels`` = (id, entity) from a
    prior resolve over the SAME ``passes``) absorbs a batch of
    ``new_records`` WITHOUT re-closing the full entity graph.

    Method (entity contraction): per pass, the batch is keyed with the
    identical :func:`_er_keyed` projection and joined (broadcast — the
    batch is micro-batch-sized by contract) against the old corpus's
    key index, yielding new-old candidate pairs; new-new pairs come
    from the batch's own self-join. Every old endpoint is then
    CONTRACTED to its existing entity label — sound because an old
    entity is already a connected set, and exact for the min-id label
    rule because the old label IS the min member id — and
    large-star/small-star closure runs on the contracted graph only:
    nodes = batch ids + touched old entity labels, i.e. O(batch), not
    O(corpus). Old entities transitively merged THROUGH a new record
    (two contracted labels linked by a batch node) land in one
    component, exactly as a rebuild would.

    Cost shape per pass: one scan + shuffle-free broadcast join over
    the old key index (never a self-join of the old corpus), one
    O(batch²/blocks) batch self-join, and a CC on an O(batch)-node
    graph. The rebuild's cost is paid once, up front, never again.

    Equality to a full rebuild on (old ∪ new) holds PROVIDED (a) ids
    are globally unique across both frames, (b) ``old_labels`` came
    from ``resolve_entities(old_records, ...)`` with the same passes
    and ``max_block``, and (c) no block crosses ``max_block`` between
    runs: the cap here is enforced on the COMBINED (old ∪ new) block
    size — mirroring what a rebuild would see — but a block that grows
    past the cap only suppresses its NEW pairs; merges already baked
    into ``old_labels`` are monotone and cannot be undone. Pass
    ``stats`` and assert ``stats["dropped_blocks"] == 0`` to fail
    loudly instead of diverging (same contract as the rebuild's
    zero-drop assertion). Gated equal to the full rebuild by
    ``pipeline_entity_resolution_incremental`` (plans/catalog.py),
    whose DuckDB oracle is the rebuild-over-everything CTE.
    """
    if stats is not None:
        stats["dropped_blocks_per_pass"] = []
        stats["dropped_blocks"] = 0
    if not passes:
        raise ValueError(
            "resolve_entities_incremental requires at least one pass"
        )
    # same per-pass multi-scan shape as the rebuild: cache both record
    # frames once (r13 — see resolve_entities' persist note)
    if not old_records.is_cached:
        old_records = track(old_records.persist())
    if not new_records.is_cached:
        new_records = track(new_records.persist())
    ko_l = [_er_keyed(old_records, id_col, bx) for bx, _ in passes]
    kn_l = [_er_keyed(new_records, id_col, bx) for bx, _ in passes]
    over_l = [
        ko.select("_bk")
        .unionAll(kn.select("_bk"))
        .groupBy("_bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_block)
        .select("_bk")
        for ko, kn in zip(ko_l, kn_l)
    ]
    n_over_l = _er_drop_counts(over_l)
    edges = None
    for i, (block_exprs, predicate) in enumerate(passes):
        ko, kn, n_over = ko_l[i], kn_l[i], n_over_l[i]
        if stats is not None:
            stats["dropped_blocks_per_pass"].append(n_over)
            stats["dropped_blocks"] += n_over
        if n_over:
            log.warning(
                "resolve_entities_incremental: dropping %d combined "
                "blocks larger than max_block=%d — new pairs from "
                "them are suppressed; prior merges stand (monotone)",
                n_over,
                max_block,
            )
            ko = ko.join(over_l[i], "_bk", "left_anti")
            kn = kn.join(over_l[i], "_bk", "left_anti")
        a = kn.select(
            "_bk", F.col("_rid").alias("_ida"), F.col("_row").alias("_rowa")
        )
        b = kn.select(
            "_bk", F.col("_rid").alias("_idb"), F.col("_row").alias("_rowb")
        )
        nn = (
            a.join(b, "_bk")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(predicate(F.col("_rowa"), F.col("_rowb")))
            .select(F.col("_ida").alias("a"), F.col("_idb").alias("b"))
        )
        # new-old: ONE scan of the old key index, batch broadcast —
        # the predicate contract is (smaller-id row, larger-id row),
        # identical to the rebuild's self-join orientation, so a
        # non-symmetric predicate cannot diverge the two paths
        kb = F.broadcast(
            kn.select(
                "_bk",
                F.col("_rid").alias("_idn"),
                F.col("_row").alias("_rown"),
            )
        )
        no = (
            ko.join(kb, "_bk")
            .filter(
                F.when(
                    F.col("_rid") < F.col("_idn"),
                    predicate(F.col("_row"), F.col("_rown")),
                ).otherwise(predicate(F.col("_rown"), F.col("_row")))
            )
            .select(
                F.least("_rid", "_idn").alias("a"),
                F.greatest("_rid", "_idn").alias("b"),
            )
        )
        p = nn.unionByName(no)
        edges = p if edges is None else edges.unionByName(p)
    lab = old_labels.select(
        F.col(id_col).alias("_lid"), F.col("entity").alias("_lent")
    )
    # contract old endpoints to their entity labels (new ids pass
    # through). Join shape matters at scale: old_labels is
    # CORPUS-sized, and a left join with it on the build side can't
    # broadcast (LeftOuter builds right), which would shuffle the
    # whole labels table. Instead: project the O(batch) touched
    # endpoint set, semi-reduce old_labels against its broadcast (one
    # scan, BHJ, O(batch) survivors), and broadcast THAT lookup into
    # both endpoint joins — old_labels is scanned, never shuffled.
    # ALL of those broadcasts are now guarded by one bounded probe
    # (r13, VERDICT r12 "what's wrong" #2): n_ed bounds touched and lk
    # (<= 2 * n_ed rows each) and the contracted closure's node set —
    # a caller whose batch outgrows the documented micro-batch
    # contract gets scale-safe shuffle joins and the distributed
    # closure instead of a silent driver-side blowup.
    ed = track(edges.distinct().persist())
    n_ed = ed.count()
    small = _er_closure_bound(n_ed)
    touched = (
        ed.select(F.col("a").alias("_t"))
        .unionByName(ed.select(F.col("b").alias("_t")))
        .distinct()
    )
    lk = track(
        lab.join(
            F.broadcast(touched) if small else touched,
            F.col("_lid") == F.col("_t"),
        )
        .select("_lid", "_lent")
        .persist()
    )
    la = lk.select(F.col("_lid").alias("_la"), F.col("_lent").alias("_ea"))
    lb = lk.select(F.col("_lid").alias("_lb"), F.col("_lent").alias("_eb"))
    if small:
        la, lb = F.broadcast(la), F.broadcast(lb)
    e = (
        ed.join(la, F.col("a") == F.col("_la"), "left")
        .join(lb, F.col("b") == F.col("_lb"), "left")
        .select(
            F.coalesce(F.col("_ea"), F.col("a")).alias("_ca"),
            F.coalesce(F.col("_eb"), F.col("b")).alias("_cb"),
        )
    )
    contracted = (
        e.select(
            F.least("_ca", "_cb").alias("a"),
            F.greatest("_ca", "_cb").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if small:
        # contracted has <= n_ed rows (a contraction of the distinct
        # edge set), inside the bound by construction: close on the
        # driver — one collect job replaces the star-contraction loop
        # (see _driver_closure_rows)
        comp = _closure_frame(contracted, contracted.collect())
    else:
        comp = track(
            connected_components_star(contracted, "a", "b").persist()
        )
    new_lab = (
        new_records.select(F.col(id_col).alias("_rid"))
        .join(
            F.broadcast(comp) if small else comp,
            F.col("_rid") == F.col("node"),
            "left",
        )
        .select(
            F.col("_rid").alias(id_col),
            F.coalesce(F.col("component"), F.col("_rid")).alias("entity"),
        )
    )
    remap = comp.select(
        F.col("node").alias("_e"), F.col("component").alias("_c")
    )
    old_lab = (
        old_labels.select(F.col(id_col), F.col("entity"))
        .join(
            F.broadcast(remap) if small else remap,
            F.col("entity") == F.col("_e"),
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("_c"), F.col("entity")).alias("entity"),
        )
    )
    return old_lab.unionByName(new_lab)
