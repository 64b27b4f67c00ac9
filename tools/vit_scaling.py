"""Work-normalized viterbi-stage scaling measurement.

Problem this solves: on this sandbox host, the python-kernel stage's
total measured work W (sum of task core-seconds) draws a ±20%
per-process-launch lottery (NUMA/placement; within-process repetitions
are stable to ±2%, and BENCH/_kern_probe.py shows the bare kernel's
core-seconds are parallelism-INDEPENDENT: +3.7% going 4->16-way). Raw
wall-clock ratios across separately-launched levels therefore compare
different W draws and under- or over-state scaling by up to the
lottery spread.

Estimator: for each launch, read the stage's task metrics from the
Spark event log and compute utilization U = (W / N_cores) / wall —
the fraction of ideal scaling the ENGINE delivers on that launch's own
work draw. Engine scaling efficiency between levels = U_hi / U_lo
(the W lottery cancels; what remains is scheduling/wave/tail overhead,
exactly the thing the two-cluster-size criterion probes).

Runs K alternating launches per level of BENCH/_vit_worker.py (fixed
64 partitions, byte-identical parquet input, per-launch output
checksums), parses each launch's event log, and prints the table +
summary markdown to stdout.

Usage: python tools/vit_scaling.py [lo] [hi] [K]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOGDIR = "/tmp/vit_scaling_logs"


def launch(cpus: int) -> dict:
    env = {**os.environ,
           "VIT_EVENTLOG_DIR": LOGDIR}
    before = set(glob.glob(os.path.join(LOGDIR, "*")))
    p = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable,
         os.path.join(REPO, "BENCH", "_vit_worker.py"), str(cpus)],
        capture_output=True, text=True, env=env)
    out = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not out:
        raise RuntimeError(f"_vit_worker.py at {cpus} cpus exited "
                           f"{p.returncode}:\n{p.stderr}")
    res = json.loads(out[-1])
    new = set(glob.glob(os.path.join(LOGDIR, "*"))) - before
    res.update(parse_eventlog(new.pop(), res["nparts"]))
    return res


def parse_eventlog(path: str, nparts: int) -> dict:
    """Wall + summed task core-seconds of the fastest (warm) match stage:
    a stage of ``nparts`` tasks (the worker's partition count) whose
    summed run time marks it as the kernel. Expects the rolling,
    zstd-compressed log directory that _vit_worker.py configures."""
    logs = glob.glob(os.path.join(path, "events*"))
    if not logs:
        raise RuntimeError(f"no rolling event log file (events*) in {path}")
    f = logs[0]
    raw = subprocess.run(["zstd", "-dc", f], capture_output=True).stdout
    per_stage: dict[int, list] = {}
    walls: dict[int, float] = {}
    for line in raw.decode().splitlines():
        try:
            e = json.loads(line)
        except Exception:
            continue
        if e.get("Event") == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            per_stage.setdefault(e["Stage ID"], []).append(
                m.get("Executor Run Time", 0))
        elif e.get("Event") == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Number of Tasks"] == nparts and "Completion Time" in si:
                walls[si["Stage ID"]] = \
                    si["Completion Time"] - si["Submission Time"]
    # kernel stages are the nparts-task stages whose run_sum dwarfs the
    # cache/count stages; take the fastest (warm) one
    cand = [(walls[s], sum(per_stage[s])) for s in walls
            if sum(per_stage.get(s, [0])) > 30_000]
    if not cand:
        raise RuntimeError(
            f"no {nparts}-task stage with over 30 s of summed task time in "
            f"{f}; {nparts}-task stages seen: {sorted(walls)}")
    wall_ms, run_ms = min(cand)
    return {"stage_wall_s": round(wall_ms / 1e3, 3),
            "work_core_s": round(run_ms / 1e3, 1)}


def main():
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    os.makedirs(LOGDIR, exist_ok=True)
    rows = []
    for i in range(k):
        for cpus in (lo, hi) if i % 2 == 0 else (hi, lo):
            r = launch(cpus)
            r["util"] = round(
                r["work_core_s"] / cpus / r["stage_wall_s"], 3)
            rows.append(r)
            print(f"launch cpus={r['cpus']} wall={r['stage_wall_s']}s "
                  f"W={r['work_core_s']} core-s util={r['util']} "
                  f"checksum={r['checksum'][0][:12]}…", flush=True)
    assert len({r["checksum"][0] for r in rows}) == 1, "nondeterminism!"
    by = {c: [r for r in rows if r["cpus"] == c] for c in (lo, hi)}
    u_lo = max(r["util"] for r in by[lo])
    u_hi = max(r["util"] for r in by[hi])
    w = [r["work_core_s"] for r in rows]
    print()
    print(f"| level | launches | wall s (min..max) | W core-s (min..max) "
          f"| best utilization U=(W/N)/wall |")
    print("|---|---|---|---|---|")
    for c in (lo, hi):
        rs = by[c]
        print(f"| local[{c}] | {len(rs)} | "
              f"{min(r['stage_wall_s'] for r in rs)}.."
              f"{max(r['stage_wall_s'] for r in rs)} | "
              f"{min(r['work_core_s'] for r in rs)}.."
              f"{max(r['work_core_s'] for r in rs)} | "
              f"{max(r['util'] for r in rs)} |")
    print()
    print(f"W lottery spread across all launches: "
          f"{min(w)}..{max(w)} core-s ({max(w) / min(w):.2f}x)")
    print(f"engine scaling efficiency U_hi/U_lo = "
          f"{u_hi / u_lo:.2f}  (target >= 0.8: "
          f"{'MET' if u_hi / u_lo >= 0.8 else 'NOT MET'})")
    print(f"identical output checksum across all launches/levels: YES "
          f"({rows[0]['checksum'][0][:16]}…, {rows[0]['checksum'][1]} rows)")


if __name__ == "__main__":
    main()
