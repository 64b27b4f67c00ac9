"""Benchmark entry point.

    python3 perfbench/run.py --workload {match,probe,pyramid} --seed N \\
        --seconds S --trace {0,1} [--scale F]

Runs one workload on ``local[nproc]`` from this one driver process and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, read from the Spark
plans of the timed actions and from traced in-process replays of the
kernels. A summary goes to standard error, and every run appends a
record, with ``nproc``, to ``perfbench/out/runs.jsonl``.

Order of a run: inputs from the seed (untimed); SETUP_REPS set-ups
(session, RoadIndex build, broadcast, warm-up action), of which setup_s
is the median; the timed pipeline, repeated until ``--seconds`` of
timed work and at least MIN_REPS times; re-runs against a committed
checkpoint directory, a workload's ``resume_warmup`` untimed ones and
then its ``resume_reps`` timed ones; untimed correctness checks; with
``--trace 1``, the traced and untraced replays. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

import planmetrics
import procmem
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

SETUP_REPS = 3
MIN_REPS = 3
JVM_HEAP = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("match", "probe", "pyramid"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the smoke test runs small inputs")
    return ap.parse_args(argv)


class Ctx:
    """What a workload's steps share within one run."""

    def __init__(self, seed, raw, work_dir):
        self.seed = seed
        self.raw = raw
        self.work_dir = work_dir
        self.spark = self.bc = self.idx = self.data = None

    def new_dir(self) -> str:
        return os.path.join(self.work_dir, "ckpt", uuid.uuid4().hex)


def _dir_listing(path):
    """{relative file path: size} of everything under ``path``."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _kernel_targets():
    from barefoot_spark import geo
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.operators import match as M

    def hits(c, a, k, r):
        c["index.hits"] += len(r[0])

    def refined(c, a, k, r):
        c["geo.refined_pairs"] += len(a[2])

    def cands(c, a, k, r):
        c["match.candidates"] += len(k["precomputed"][0])

    def breaks(c, a, k, r):
        # an HMM break re-seeds from emissions: predecessors exist, yet
        # no candidate keeps one (Filter.java's break branch)
        if len(a[0]) and r[3].any() and (r[2][r[3]] < 0).all():
            c["match.hmm_breaks"] += 1

    return [
        (RoadIndex, "radius", "index.radius", hits),
        (RoadIndex, "split", "index.split", None),
        (RoadIndex, "edge_point", "index.edge_point", None),
        (M, "_candidates_for_trace", "match.candidates", None),
        (M, "minset", "match.minset", None),
        (M, "route_ssmt_cached", "match.route", None),
        (M, "path_cost2", "match.path_cost", None),
        (M, "hmm_forward_arrays", "match.hmm_forward", breaks),
        (M, "forward_step", "match.forward_step", cands),
        (geo, "distance", "geo.distance", None),
        (geo, "polyline_min_dist_planar", "geo.planar_prefilter", None),
        (geo, "polyline_intercept", "geo.refine", refined),
    ]


def _ckpt_targets():
    from barefoot_spark import ckpt
    return [(ckpt.StageRunner, "run_stage", "ckpt.run_stage", None)]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _shutdown(spark):
    """Stops Spark, closes the JVM's stdin so it exits, and waits for the
    JVM and every process under this one to end."""
    from pyspark import SparkContext

    started = procmem.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    left = procmem.wait_for_exit(started + procmem.descendants(os.getpid()), 60)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import workloads as W
        from barefoot_spark.index import RoadIndex
        from barefoot_spark.session import build_session
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a fixed, pre-touched JVM heap keeps the JVM's share of peak_rss_mb
    # from following GC timing; the rest is Python and JVM off-heap
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    work = os.path.join(OUT, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {"spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false"}

    marks = [("start", time.perf_counter())]

    def phase(name):
        marks.append((name, time.perf_counter()))

    wl = W.WORKLOADS[args.workload](args.scale)
    roads_pdf, raw = wl.make_inputs(args.seed)
    phase("inputs")
    ctx = Ctx(args.seed, raw, work)

    def log(msg):
        print(f"perfbench[{wl.name}]: {msg}", file=sys.stderr)

    attempted = failed = 0
    layer: dict[str, float] = {}
    spark = None
    try:
        # ---- set-up, SETUP_REPS times; the last session stays up
        setups = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(app=f"perfbench-{wl.name}", master=f"local[{nproc}]",
                                  extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            idx = RoadIndex(roads_pdf, res=W.INDEX_RES)
            t2 = time.perf_counter()
            bc = spark.sparkContext.broadcast(idx)
            t3 = time.perf_counter()
            ctx.spark, ctx.bc, ctx.idx = spark, bc, idx
            wl.warmup(ctx, ctx.new_dir())
            t4 = time.perf_counter()
            setups.append((t1 - t0, t2 - t1, t3 - t2, t4 - t3, t4 - t0))
        for i, key in enumerate(("session.start_ms", "index.build_ms",
                                 "session.broadcast_ms", "session.warmup_ms")):
            layer[key] = _median([s[i] for s in setups]) * 1e3
        setup_s = _median([s[4] for s in setups])
        phase("setup")

        ctx.data = wl.load(spark, raw)
        n_rows = ctx.data.count()
        in_parts = ctx.data.rdd.getNumPartitions()
        phase("load")

        # ---- timed pipeline
        collector = planmetrics.QueryCollector(spark) if args.trace else None
        times, plan_reps = [], []
        ref_out = ref_digest = last_dir = None
        while sum(times) < args.seconds or len(times) < MIN_REPS:
            d = ctx.new_dir()
            attempted += 1
            try:
                t0 = time.perf_counter()
                out = wl.run(ctx, d)
                dt = time.perf_counter() - t0
            except Exception:
                failed += 1
                log(traceback.format_exc())
                if failed > 3:
                    break
                continue
            digest = wl.digest(out)
            if ref_digest is None:
                ref_out, ref_digest = out, digest
            elif digest != ref_digest:
                failed += 1
                log(f"rep {len(times)}: output differs from the first rep's")
            del out
            times.append(dt)
            if last_dir is not None:
                shutil.rmtree(last_dir, ignore_errors=True)
            last_dir = d
            if collector is not None:
                pm = planmetrics.plan_metrics(collector.drain(), in_parts)
                pm["spark.python_share"] = pm["spark.python_total_ms"] / (dt * 1e3 * nproc)
                plan_reps.append(pm)
        if ref_out is None:
            raise RuntimeError("no timed repetition succeeded")
        phase("timed")

        # ---- resume against a committed checkpoint directory
        tracer = Tracer()
        if wl.run_commits:
            resume_dir = last_dir
        else:
            resume_dir = ctx.new_dir()
            with tracer.installed(_ckpt_targets()) if args.trace \
                    else contextlib.nullcontext():
                wl.commit(ctx, resume_dir, ref_out)
        committed = _dir_listing(resume_dir)
        resumes = []
        for _ in range(wl.resume_warmup + wl.resume_reps):
            attempted += 1
            t0 = time.perf_counter()
            out = wl.resume(ctx, resume_dir)
            resumes.append(time.perf_counter() - t0)
            if wl.digest(out) != ref_digest:
                failed += 1
                log("resume: output differs from the timed run's")
            if _dir_listing(resume_dir) != committed:
                failed += 1
                log("resume: committed something new")
        peak_rss_mb = procmem.tree_peak_rss_mb(os.getpid())
        if collector is not None:
            collector.close()
        phase("resume")

        # ---- correctness oracle on the first rep's output (untimed)
        fails = wl.check(ctx, ref_out)
        for f in fails:
            log(f"check failed: {f}")
        if fails:
            failed += len(times)
        del ref_out
        phase("check")

        layer["ckpt.stages_committed"] = sum(
            1 for p in committed if os.path.basename(p) == "_SUCCESS"
            and not p.startswith("_metrics"))
        layer["ckpt.files_written"] = len(committed)
        layer["ckpt.bytes_written"] = sum(committed.values())

        metrics = {
            "rows_per_s": (n_rows / _median(times), "1/s"),
            "setup_s": (setup_s, "s"),
            "resume_s": (_median(resumes[wl.resume_warmup:]), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        log(f"nproc={nproc} rows={n_rows} reps={len(times)} "
            f"rep_s={[round(t, 3) for t in times]} setups_s={[[round(x, 2) for x in s] for s in setups]} "
            f"resumes_s={[round(r, 3) for r in resumes]} "
            f"error_rate={failed / max(attempted, 1):.4f}")

        if args.trace:
            metrics = _layer_metrics(wl, ctx, tracer, plan_reps, layer, times, log)
            tracer.dump(os.path.join(OUT, "spans", f"{wl.name}-seed{args.seed}.npz"))
            phase("trace")
    except Exception:
        log(traceback.format_exc())
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    _shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)
    phase("shutdown")
    log("phases: " + ", ".join(f"{n} {t1 - t0:.1f} s"
                               for (_, t0), (n, t1) in zip(marks, marks[1:])))

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                            "trace": args.trace, "scale": args.scale, "nproc": nproc,
                            "time": time.time(), **result}) + "\n")
    print(json.dumps(result), flush=True)
    return 0


LAYER_UNITS = {
    "spark.python_tasks": "count", "spark.python_share": "ratio",
    "match.candidates_ms": "ms", "match.routing_ms": "ms", "match.path_cost_ms": "ms",
    "match.forward_ms": "ms", "match.step_self_ms": "ms", "match.backtrack_ms": "ms",
    "match.cands_per_sample": "count", "match.route_calls": "count",
    "match.route_cache_entries": "count", "match.hmm_breaks": "count",
    "spark.arrow_bytes_sent": "bytes", "spark.arrow_bytes_received": "bytes",
    "spark.python_rows_received": "count", "spark.python_init_ms": "ms",
    "spark.python_total_ms": "ms",
    "index.radius_ms": "ms", "geo.planar_prefilter_ms": "ms", "geo.refine_ms": "ms",
    "index.split_ms": "ms", "index.refine_keep_ratio": "ratio",
    "spark.codegen_ms": "ms", "spark.shuffle_bytes": "bytes", "spark.shuffle_write_ms": "ms",
    "spark.fetch_wait_ms": "ms", "spark.spill_bytes": "bytes",
    "ckpt.run_stage_ms": "ms", "ckpt.stages_committed": "count",
    "ckpt.bytes_written": "bytes", "ckpt.files_written": "count",
    "session.start_ms": "ms", "index.build_ms": "ms", "session.broadcast_ms": "ms",
    "session.warmup_ms": "ms",
    "trace.replay_ms": "ms", "trace.overhead_ratio": "ratio", "trace.span_coverage": "ratio",
}


def _layer_metrics(wl, ctx, tracer, plan_reps, layer, times, log):
    """Per-layer metrics: Spark plan metrics (median over the timed
    reps), then an untraced and a traced in-process replay."""
    for key in plan_reps[0]:
        layer[key] = _median([pm[key] for pm in plan_reps])

    def timed_replay(tracer=None):
        t0 = time.perf_counter()
        _out, counters = wl.replay(ctx, tracer)
        return time.perf_counter() - t0, counters

    before = tracer.covered_ms()
    with tracer.installed(_kernel_targets() + _ckpt_targets()):
        traced, counters = timed_replay(tracer)
    covered = tracer.covered_ms() - before
    if wl.run_commits:   # the timed reps are the untraced replay
        untraced = _median(times)
    else:   # one untraced replay on each side of the traced one
        untraced = (timed_replay()[0] + timed_replay()[0]) / 2
    layer.update(counters)
    layer["trace.replay_ms"] = untraced * 1e3
    layer["trace.overhead_ratio"] = traced / untraced - 1.0
    layer["trace.span_coverage"] = covered / (traced * 1e3)

    spans = tracer.summary()

    def incl(name):
        return spans.get(name, (0.0, 0.0, 0))[0]

    def self_(name):
        return spans.get(name, (0.0, 0.0, 0))[1]

    def calls(name):
        return spans.get(name, (0.0, 0.0, 0))[2]

    c = tracer.counts
    layer.update({
        "match.candidates_ms": incl("match.candidates"),
        "match.routing_ms": incl("match.route"),
        "match.path_cost_ms": incl("match.path_cost"),
        "match.forward_ms": incl("match.hmm_forward"),
        "match.step_self_ms": self_("match.forward_step"),
        "match.backtrack_ms": self_("match.match_trace"),
        "match.cands_per_sample": c["match.candidates"] / max(calls("match.forward_step"), 1),
        "match.route_calls": calls("match.route"),
        "match.hmm_breaks": c["match.hmm_breaks"],
        "index.radius_ms": self_("index.radius"),
        "geo.planar_prefilter_ms": incl("geo.planar_prefilter"),
        "geo.refine_ms": incl("geo.refine"),
        "index.split_ms": incl("index.split"),
        "index.refine_keep_ratio": c["index.hits"] / max(c["geo.refined_pairs"], 1),
        "ckpt.run_stage_ms": incl("ckpt.run_stage"),
    })
    layer.setdefault("match.route_cache_entries", 0)
    top = sorted(((v[1], k) for k, v in spans.items() if v[2]), reverse=True)[:5]
    log("span self time, top: " + ", ".join(f"{k} {v:.0f} ms" for v, k in top))
    log(f"replay {untraced * 1e3:.0f} ms untraced, {traced * 1e3:.0f} ms traced, "
        f"spans cover {layer['trace.span_coverage']:.1%}")
    return {k: (float(layer[k]), u) for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
