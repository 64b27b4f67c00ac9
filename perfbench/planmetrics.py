"""Spark plan-metric reader.

A ``QueryExecutionListener``, implemented in Python through the py4j
callback server, keeps the ``QueryExecution`` of every action the timed
region runs, including the parquet writes that ``ckpt.StageRunner``
issues inside the engine. After the region ends, each final AQE plan is
walked, descending through ``ResultQueryStage``, ``ShuffleQueryStage``
and ``TableCacheQueryStage``, and every node's ``metrics()`` is read
with one py4j call (its ``toString``), so the walk does not perturb the
timings it reports.
"""

from __future__ import annotations

import re

from pyspark.java_gateway import ensure_callback_server_started

_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
_STAGE_NODES = ("ResultQueryStage", "ShuffleQueryStage",
                "TableCacheQueryStage", "BroadcastQueryStage")

# benchmark metric -> the plan metrics it sums. Spark keeps
# shuffleWriteTime in ns and every other timing here in ms.
SPARK_LAYER_METRICS = {
    "spark.python_total_ms": ("pythonTotalTime",),
    "spark.arrow_bytes_sent": ("pythonDataSent",),
    "spark.arrow_bytes_received": ("pythonDataReceived",),
    "spark.python_rows_received": ("pythonNumRowsReceived",),
    "spark.python_init_ms": ("pythonBootTime", "pythonInitTime"),
    "spark.codegen_ms": ("pipelineTime",),
    "spark.shuffle_bytes": ("shuffleBytesWritten",),
    "spark.shuffle_write_ms": ("shuffleWriteTime",),
    "spark.fetch_wait_ms": ("fetchWaitTime",),
    "spark.spill_bytes": ("spillSize",),
}
_SCALE = {"shuffleWriteTime": 1e-6}


class QueryCollector:
    """Keeps the QueryExecution of every finished action."""

    def __init__(self, spark):
        self.spark = spark
        self.qes = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, funcName, qe, durationNs):
        self.qes.append(qe)

    def onFailure(self, funcName, qe, exception):
        self.qes.append(qe)

    def drain(self):
        """QueryExecutions of the actions finished since the last drain.
        Listener events are delivered asynchronously, so wait for the
        listener bus first."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        qes, self.qes = self.qes, []
        return qes

    def close(self):
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _walk(node, input_partitions, totals):
    """Adds ``node``'s subtree into ``totals``; returns the number of
    partitions the node outputs, when the plan shows it."""
    name = node.nodeName()
    metrics = {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith(_STAGE_NODES):
        kids = [node.plan()]
    elif name == "ReusedExchange":
        kids = []   # the reused exchange is walked where it first ran
    else:
        seq = node.children()
        kids = [seq.apply(i) for i in range(seq.length())]
    parts = [_walk(k, input_partitions, totals) for k in kids]
    first = parts[0] if parts else None
    for key, names in SPARK_LAYER_METRICS.items():
        for m in names:
            if m in metrics:
                totals[key] += metrics[m] * _SCALE.get(m, 1.0)
    if "pythonDataSent" in metrics:
        # tasks of a Python node = partitions of its input: the
        # AQEShuffleRead (after coalescing) or exchange below it, else the
        # input DataFrame's own partitioning
        totals["spark.python_tasks"] += first if first is not None else input_partitions
    if "numPartitions" in metrics and name in ("AQEShuffleRead", "Exchange"):
        return metrics["numPartitions"]
    return first


def plan_metrics(qes, input_partitions: int) -> dict:
    """Summed Spark-side layer metrics over the given executions."""
    totals = {key: 0.0 for key in SPARK_LAYER_METRICS}
    totals["spark.python_tasks"] = 0
    for qe in qes:
        _walk(qe.executedPlan(), input_partitions, totals)
    return totals
