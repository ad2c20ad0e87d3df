"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs
from the seed, starts Spark on ``local[<cores>]`` with as many shuffle
partitions, builds the workload's state through the package's public
API (``SETUP_REPS`` times, each in a fresh session, reporting the
median as ``setup_s``), warms up for a fixed number of request
cycles, then serves requests from one closed-loop client for ``S``
seconds, finishing the last request cycle it started.
Every output is checked against the benchmark's own model.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` serves the
same requests, alternating untraced and traced request cycles, and
prints the per-layer metrics (spans are written to
``.perfbench_out/``). The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

All files are written under ``.perfbench_work/`` in the checkout and
removed at exit; Spark is stopped and its JVM waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every end-to-end metric is reported on every workload; what counts
# as a request and an item differs per workload (see BENCHMARK.json).
# Request cost is measured as CPU time of the driver process and its
# JVM: on a shared virtual machine wall-clock latency rises by up to
# half again with the CPU time the host takes away (steal), which CPU
# time leaves out; phases in which the host runs slower show in both.
# req_cpu_s is the median over request cycles of CPU seconds per
# request; items_per_cpu_s the median over cycles of the items (query
# or appended vectors) a cycle served per CPU second. Wall-clock
# latency is logged to stderr and reported by the traced run as
# client.wall_p50_s.
END_TO_END = {
    "setup_s": "s",
    "req_cpu_s": "s",
    "items_per_cpu_s": "1/s",
    "recall": "frac",
    "stored_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "collections.build_s": "s",
    "collections.scan_s": "s",
    "crypto.decrypt_s": "s",
    "crypto.ct_bytes_per_vector": "bytes",
    "knn.score_rank_s": "s",
    "knn.pairs_scored_per_query": "count",
    "ann.kmeans_s": "s",
    "quant.train_s": "s",
    "quant.build_s": "s",
    "ann.assign_s": "s",
    "quant.encode_s": "s",
    "quant.append_s": "s",
    "quant.written_bytes_per_user_byte": "ratio",
    "quant.lists_touched_per_append": "count",
    "quant.probe_s": "s",
    "quant.search_batch_s": "s",
    "ann.candidates_per_query": "count",
    "ann.useful_ratio": "ratio",
    "ann.files_per_list": "count",
    "caching.released_per_op": "count",
    "caching.persisted_after_op": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "client.wall_p50_s": "s",
    "trace.overhead_ratio": "ratio",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


@dataclass
class Cycle:
    """Totals of one request cycle's timed requests."""

    traced: bool
    items: float = 0.0
    cpu: float = 0.0
    wall: float = 0.0
    n: int = 0

    def add(self, items: float, cpu: float, wall: float) -> None:
        self.items += items
        self.cpu += cpu
        self.wall += wall
        self.n += 1


def per_request(cycles, attr: str) -> float:
    """Median over cycles of a cycle's ``attr`` per request."""
    from perfbench import measure as M

    return M.median([getattr(c, attr) / c.n for c in cycles])


def serve(w, ctx, seconds: float, log) -> dict:
    """Closed loop: warm-up cycles, then whole request cycles until
    ``seconds`` of requests have elapsed; each request's wall time and
    CPU time are taken around the call. The next request is sent only
    after the previous one returned and was checked, which matches
    Spark's blocking actions and the single-thread contract of
    ``caching.py``; each request ends with ``caching.release_all()``,
    the driver's side of that contract. When tracing, every other
    timed cycle is traced. Returns the run's tallies."""
    from cyborgdb_encrypted_vector_search_spark import caching
    from perfbench import measure as M

    tally = {"attempted": 0, "failed": 0, "lat": [], "cpu": [], "cycles": [],
             "hits": 0.0, "wanted": 0.0}
    cyc = len(w.cycle)
    i, t_end = 0, None
    while True:
        if t_end is None and i == w.WARMUP_CYCLES * cyc:
            persisted0 = M.persisted_rdds(ctx.sc)
            t_end = time.perf_counter() + seconds
        timed_phase = t_end is not None
        if timed_phase and i % cyc == 0 and time.perf_counter() >= t_end:
            break
        if i % cyc == 0:
            cycle = Cycle(traced=ctx.trace and timed_phase and (i // cyc) % 2 == 1)
        req = w.make(ctx, i)
        traced = cycle.traced
        ctx.rid = f"r{i}"
        tally["attempted"] += 1
        try:
            with ctx.request(ctx.rid), ctx.tracer.span("request", ctx.rid, kind=w.kind(i)):
                c0 = M.cpu_seconds()
                t0 = time.perf_counter()
                out = w.call_traced(ctx, req) if traced else w.call(ctx, req)
                released = caching.release_all()
                lat = time.perf_counter() - t0
                cpu = M.cpu_seconds() - c0
            o = w.check(req, out)
        except Exception:  # a failed request is counted, not fatal
            log(f"request {i} ({w.kind(i)}) raised:\n{traceback.format_exc()}")
            tally["failed"] += 1
            i += 1
            continue
        if not o.ok:
            log(f"request {i} ({w.kind(i)}) wrong: {o.why}")
            tally["failed"] += 1
        if timed_phase:
            tally["lat"].append(lat)
            tally["cpu"].append(cpu)
            cycle.add(o.items, cpu, lat)
            if i % cyc == cyc - 1:
                tally["cycles"].append(cycle)
            if ctx.trace:
                if not traced:
                    c = M.spark_counts(ctx.sc, ctx.rid)
                    for k in ("jobs", "stages", "tasks"):
                        w.note(f"spark.{k}_per_op", c[k])
                    w.note("spark.failed_tasks", c["failed_tasks"])
                w.note("caching.released_per_op", released)
                w.note("caching.persisted_after_op", M.persisted_rdds(ctx.sc) - persisted0)
        tally["hits"] += o.hits
        tally["wanted"] += o.wanted
        i += 1
    return tally


def layer_metrics(w, tally) -> dict:
    """Per-layer metrics: medians of times, means of counts, 0 for a
    layer the workload does not exercise."""
    from perfbench import measure as M

    L = w.layers
    out = {}
    for name in PER_LAYER:
        vals = L.get(name)
        if not vals:
            out[name] = 0.0
        elif name.endswith("_s"):
            out[name] = M.median(vals)
        else:
            out[name] = sum(vals) / len(vals)
    if L.get("quant.written_bytes"):
        out["quant.written_bytes_per_user_byte"] = sum(L["quant.written_bytes"]) / sum(L["quant.user_bytes"])
    out["spark.failed_tasks"] = float(sum(L.get("spark.failed_tasks", [])))
    if L.get("caching.persisted_after_op"):
        # frames left persisted per request: the growth rate, not the level
        out["caching.persisted_after_op"] = L["caching.persisted_after_op"][-1] / len(L["caching.persisted_after_op"])
    plain = [c for c in tally["cycles"] if not c.traced]
    traced = [c for c in tally["cycles"] if c.traced]
    if plain:
        out["client.wall_p50_s"] = per_request(plain, "wall")
    if plain and traced:
        out["trace.overhead_ratio"] = per_request(traced, "wall") / per_request(plain, "wall")
    return out


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run is using it
    except OSError:
        pass


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path[0] = ROOT  # the checkout, not perfbench/, is the import root
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    def log(msg):
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    try:
        import cyborgdb_encrypted_vector_search_spark as program
        from perfbench import harness, measure as M
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the program: {e}")
        _remove(work)
        return 2
    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        log(f"the program was imported from {program.__file__}, not this checkout")
        _remove(work)
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        _remove(work)
        return 2

    w = WORKLOADS[args.workload](args.seed)
    ctx = harness.Ctx(work, bool(args.trace))
    try:
        setup = []
        for rep in range(w.SETUP_REPS):
            ctx.rid = f"setup{rep}"
            with ctx.tracer.span("setup", ctx.rid):
                t0 = time.perf_counter()
                with ctx.tracer.span("session.start", ctx.rid):
                    w.note("session.start_s", ctx.start())
                w.prepare(ctx, rep)
                setup.append(time.perf_counter() - t0)
        log(f"setup runs {[round(s, 3) for s in setup]}")
        tally = serve(w, ctx, args.seconds, log)
        final_ok, stored = w.finish(ctx)
        if not final_ok:
            log("final state check failed")
        rss = M.peak_rss_mb()
        if args.trace:
            metrics = layer_metrics(w, tally)
            units = PER_LAYER
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            ctx.tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            )
        else:
            lat, cpu = tally["lat"], tally["cpu"]
            tail, pct, n = M.tail(cpu)
            log(f"{n} timed requests, CPU tail p{pct:.0f} {tail:.3f} s; CPU s {[round(x, 2) for x in cpu]}")
            cycles = tally["cycles"]
            log(f"wall p50 {per_request(cycles, 'wall'):.3f} s; wall s {[round(x, 3) for x in lat]}")
            metrics = {
                "setup_s": M.median(setup),
                "req_cpu_s": per_request(cycles, "cpu"),
                "items_per_cpu_s": M.median([c.items / c.cpu for c in cycles]),
                "recall": tally["hits"] / tally["wanted"] if tally["wanted"] else 1.0,
                "stored_bytes_per_user_byte": stored,
                "peak_rss_mb": rss,
            }
            units = END_TO_END
        recall_ok = w.recall_ok(tally["hits"], tally["wanted"])
        result = {
            "correct": bool(tally["failed"] == 0 and final_ok and recall_ok),
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        ctx.shutdown()
        _remove(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
