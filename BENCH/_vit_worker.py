"""Viterbi-stage-only scaling worker (one parallelism level per launch).

Reads the shared trace parquet (byte-identical input at every level),
runs the match stage at a FIXED partition count (64 — partitioning
stays constant as cores scale, as on a real cluster), prints best-of-3
wall seconds + an order-insensitive output checksum as one JSON line.

Launch under ``taskset -c 0-(N-1)`` so the whole process tree (JVM task
threads, GC, Arrow IPC, python workers) is confined to exactly N cores:
without pinning, a local[4] run borrows the idle 28 vCPUs for its
python workers and GC, overstating the low level and understating
scaling efficiency.

Usage: taskset -c 0-3 python BENCH/_vit_worker.py 4 [nparts]
"""
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd
from pyspark.sql import functions as F

from barefoot_spark import roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M
from barefoot_spark.session import build_session

cpus = int(sys.argv[1])
nparts = int(sys.argv[2]) if len(sys.argv) > 2 else 64
extra = {"spark.sql.execution.arrow.maxRecordsPerBatch": "1048576"}
if os.environ.get("VIT_EVENTLOG_DIR"):
    os.makedirs(os.environ["VIT_EVENTLOG_DIR"], exist_ok=True)
    extra["spark.eventLog.enabled"] = "true"
    extra["spark.eventLog.dir"] = "file://" + os.environ["VIT_EVENTLOG_DIR"]
    # vit_scaling.parse_eventlog reads a rolling, zstd-compressed log
    # directory; set both rather than rely on the Spark version's defaults
    extra["spark.eventLog.rolling.enabled"] = "true"
    extra["spark.eventLog.compress"] = "true"
    extra["spark.eventLog.compression.codec"] = "zstd"
spark = build_session(app=f"vitw-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8), extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
idx = RoadIndex(roads.grid_pdf(24, seed=42), res=16)
idx_bc = spark.sparkContext.broadcast(idx)
cache = os.path.join(REPO, "BENCH", "_traces_24_4000.parquet")
if not os.path.exists(cache):   # one-time, ~130 s; gitignored
    from barefoot_spark.sources import samples as SS
    SS.synth_traces(idx, n_traces=4000, samples_per_trace=60,
                    seed=42).to_parquet(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
geotags = pd.read_parquet(cache)
samples_df = spark.createDataFrame(geotags).repartition(
    nparts, "trace_id").cache()
n = samples_df.count()
matched = M.match_traces(samples_df, idx_bc, num_partitions=nparts)
q = matched.select(F.xxhash64("trace_id", "seq", "edge_id",
                              F.round("fraction", 9)).alias("h"))
best, cs = None, None
for rep in range(3):
    t0 = time.time()
    row = q.agg(F.expr("bit_xor(h)").alias("c"),
                F.count("*").alias("n")).collect()[0]
    dt = time.time() - t0
    cs = (str(row["c"]), int(row["n"]))
    best = dt if best is None else min(best, dt)
print(json.dumps({"cpus": cpus, "nparts": nparts, "sec": round(best, 3),
                  "rows": n, "rows_per_sec": round(n / best),
                  "checksum": cs}))
spark.stop()
