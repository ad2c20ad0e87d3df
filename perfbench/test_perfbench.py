"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench import measure as M
from perfbench.workloads import EncServe, _exact_cosine_topk, _vectors


# -- generated inputs ---------------------------------------------------------


def _inputs(seed: int):
    x = gen.gaussian_mixture(seed, 300, 16, 4)
    return {
        "corpus": x.tobytes(),
        "queries": gen.near_points(seed, 3, x, 4).tobytes(),
        "batch": gen.fresh_batch(seed, 5, x, 7).tobytes(),
        "docs": "\n".join(gen.documents(seed, 20, 9)).encode(),
    }


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs(7) == _inputs(7)
    # and the Parquet files the program reads are byte-identical too
    paths = []
    for n in range(2):
        x = gen.gaussian_mixture(7, 50, 8, 2)
        p = tmp_path / f"in{n}.parquet"
        pq.write_table(pa.table({"id": [f"v{i}" for i in range(50)], "embedding": _vectors(x)}), p)
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert all(a[k] != b[k] for k in a)


def test_request_inputs_do_not_shift_each_other():
    x = gen.gaussian_mixture(3, 100, 8, 2)
    assert np.array_equal(gen.near_points(3, 4, x, 2), gen.near_points(3, 4, x, 2))
    assert not np.array_equal(gen.near_points(3, 4, x, 2), gen.near_points(3, 5, x, 2))


# -- statistics --------------------------------------------------------------------


def test_tail_leaves_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    value, pct, n = M.tail(xs)
    assert n == 30
    assert sum(x > value for x in xs) == 10
    assert value == 20 and pct == pytest.approx(100 * 20 / 30)
    value, pct, _ = M.tail(xs[::-1])  # order does not matter
    assert value == 20


def test_tail_with_few_samples_is_the_maximum():
    assert M.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert M.tail(list(range(10)))[0] == 9
    assert M.tail(list(range(11)))[:2] == (0, pytest.approx(100 / 11))
    with pytest.raises(ValueError):
        M.tail([])


def test_prefix_self_times():
    chain = [("scan", 1.0), ("decrypt", 3.5), ("knn", 4.0)]
    assert M.prefix_self_times(chain) == {"scan": 1.0, "decrypt": 2.5, "knn": 0.5}
    assert sum(M.prefix_self_times(chain).values()) == chain[-1][1]


def test_tracer_nests_and_dumps(tmp_path):
    t = M.Tracer(True)
    with t.span("outer", "r1"):
        with t.span("inner", "r1", rows=3):
            pass
    outer, inner = t.spans
    assert outer.parent is None and inner.parent == outer.id
    assert outer.start <= inner.start <= inner.end <= outer.end
    t.dump(tmp_path / "s.jsonl")
    assert len((tmp_path / "s.jsonl").read_text().splitlines()) == 2
    off = M.Tracer(False)
    with off.span("x", "r"):
        pass
    assert off.spans == []


def test_per_request_is_the_median_over_cycles():
    from perfbench.run import Cycle, per_request

    cycles = []
    for cpu in (2.0, 6.0, 4.0):  # two-request cycles: 1, 3 and 2 s a request
        c = Cycle(traced=False)
        c.add(32, cpu * 0.25, 1.0)
        c.add(2, cpu * 0.75, 1.0)
        cycles.append(c)
    assert per_request(cycles, "cpu") == 2.0
    assert per_request(cycles, "wall") == 1.0


# -- CPU and memory accounting -----------------------------------------------------------


def test_cpu_seconds_counts_the_process_and_its_children():
    import subprocess
    import sys
    import time

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    kid = subprocess.Popen(
        [sys.executable, "-c", burn + "print(flush=True)\ntime.sleep(30)"], stdout=subprocess.PIPE
    )
    try:
        c0 = M.cpu_seconds()
        t0 = time.process_time()
        while time.process_time() - t0 < 0.3:
            pass
        kid.stdout.readline()  # the child has burnt its 0.5 s
        spent = M.cpu_seconds() - c0
    finally:
        kid.kill()
        kid.wait()
    assert 0.6 <= spent <= 1.2
    assert M.peak_rss_mb() > 0


# -- disk accounting -----------------------------------------------------------------


def _put(path, nbytes: int):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(b"x" * nbytes)
    os.replace(tmp, path)  # a rewrite gets a new inode, as Spark's swaps do


def test_file_diff_counts_created_replaced_and_removed(tmp_path):
    root = str(tmp_path)
    _put(f"{root}/b=0/part-0.parquet", 100)
    _put(f"{root}/b=1/part-0.parquet", 200)
    _put(f"{root}/b=2/part-0.parquet", 300)
    _put(f"{root}/_meta.json", 10)
    before = M.snapshot(root)
    assert M.total_bytes(before) == 610
    _put(f"{root}/b=0/part-1.parquet", 40)  # appended file
    _put(f"{root}/b=1/part-0.parquet", 250)  # same path, rewritten
    os.remove(f"{root}/b=2/part-0.parquet")  # bucket emptied
    after = M.snapshot(root)
    d = M.diff(before, after, "b")
    assert d == M.FileDiff(bytes_written=290, partitions_touched=3)
    assert M.diff(after, after, "b") == M.FileDiff(0, 0)
    assert M.files_per_partition(after, "b") == 1.5  # b=0: 2 files, b=1: 1
    assert M.files_per_partition({}, "b") == 0.0


# -- output checks -----------------------------------------------------------------------


def _enc(seed=3):
    w = EncServe(seed)
    w.x = gen.gaussian_mixture(seed, 200, 16, 4)
    w.docs = [f"d{i}" for i in range(200)]
    return w


def _enc_rows(w, q):
    rows = []
    for qi, v in enumerate(q):
        dist, top = _exact_cosine_topk(v, w.x, w.K)
        for rank, j in enumerate(top, 1):
            rows.append({"query_idx": qi, "rank": rank, "id": f"v{j:06d}", "document": w.docs[j], "distance": dist[j]})
    return rows


def test_enc_check_accepts_exact_answer_and_rejects_wrong_ones():
    w = _enc()
    q = gen.near_points(3, 0, w.x, 2)
    rows = _enc_rows(w, q)
    ok = w.check(q, rows)
    assert ok.ok and ok.hits == ok.wanted == 20
    far = int(np.argmax(_exact_cosine(w, q[0])))
    bad = [dict(r) for r in rows]
    bad[3].update(id=f"v{far:06d}", document=w.docs[far])
    assert not w.check(q, bad).ok  # distance no longer matches
    bad[3]["distance"] = _exact_cosine(w, q[0])[far]
    assert not w.check(q, bad).ok  # a true neighbour is missing
    stale = [dict(r) for r in rows]
    stale[0]["document"] = "tampered"
    assert not w.check(q, stale).ok
    assert not w.check(q, rows[:-1]).ok


def _exact_cosine(w, v):
    return _exact_cosine_topk(v, w.x, w.K)[0]


def test_benchmark_json_matches_the_metrics_printed():
    import json

    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
