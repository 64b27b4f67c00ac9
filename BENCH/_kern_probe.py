"""Spark-free viterbi kernel ceiling probe.

Runs the per-partition match kernel (same route-cache scoping) over 64
trace groups formed by hash grouping like Spark's — md5 of the trace
id, not Spark's murmur3, so group membership and skew only approximate
the Spark stage's — as N concurrent OS processes pulling groups from a
shared queue: no Spark, no Arrow, no shuffle. The (t_lo/t_hi)/(hi/lo) ratio is therefore the
HOST's real parallel capacity for this workload class (python+numpy
kernel processes), the denominator for normalizing the Spark stage's
raw scaling efficiency: anything the bare kernel loses at 16-way
concurrency is machine, not engine.

Usage: python BENCH/_kern_probe.py [lo] [hi] [nparts]
"""
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pandas as pd


def _part_of(tid: str, nparts: int) -> int:
    # stable stand-in for Spark's hash partitioning: md5 of the id
    import hashlib
    return int(hashlib.md5(tid.encode()).hexdigest(), 16) % nparts


def worker(args):
    pdf_path, tids = args
    from barefoot_spark import roads
    from barefoot_spark.operators.match import MatcherParams, match_trace
    from barefoot_spark.index import RoadIndex
    idx = RoadIndex(roads.grid_pdf(24, seed=42), res=16)
    pdf = pd.read_parquet(pdf_path)
    pdf = pdf[pdf["trace_id"].isin(tids)]
    params = MatcherParams()
    route_cache: dict = {}
    n = 0
    for tid, g in pdf.groupby("trace_id", sort=False):
        rows = match_trace(
            idx, tid, g["sample_id"].to_numpy(),
            g["time"].to_numpy(np.int64),
            g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64),
            np.full(len(g), np.nan), params, route_cache=route_cache)
        n += len(rows)
    return n


def measure(pdf_path, groups, nproc, reps=2):
    best = None
    for _ in range(reps):
        with mp.get_context("spawn").Pool(nproc) as pool:
            # warm the pool (imports + index build) before timing
            pool.map(worker, [(pdf_path, g[:1]) for g in groups[:nproc]])
            t0 = time.time()
            total = sum(pool.map(worker, [(pdf_path, g) for g in groups]))
            dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, total


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    nparts = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    pdf_path = os.path.join(REPO, "BENCH", "_traces_24_4000.parquet")
    if not os.path.exists(pdf_path):   # one-time, ~130 s; gitignored
        from barefoot_spark import roads
        from barefoot_spark.index import RoadIndex
        from barefoot_spark.sources import samples as SS
        idx = RoadIndex(roads.grid_pdf(24, seed=42), res=16)
        SS.synth_traces(idx, n_traces=4000, samples_per_trace=60,
                        seed=42).to_parquet(pdf_path + ".tmp")
        os.replace(pdf_path + ".tmp", pdf_path)
    tids = pd.read_parquet(pdf_path, columns=["trace_id"])["trace_id"] \
        .drop_duplicates().tolist()
    groups: list[list[str]] = [[] for _ in range(nparts)]
    for tid in tids:
        groups[_part_of(tid, nparts)].append(tid)

    t_lo, n1 = measure(pdf_path, groups, lo)
    t_hi, n2 = measure(pdf_path, groups, hi)
    assert n1 == n2
    eff = (t_lo / t_hi) / (hi / lo)
    print({"lo": lo, "hi": hi, "nparts": nparts,
           "lo_sec": round(t_lo, 3), "hi_sec": round(t_hi, 3),
           "rows": n1, "speedup": round(t_lo / t_hi, 2),
           "kernel_ceiling": round(eff, 3)})


if __name__ == "__main__":
    main()
