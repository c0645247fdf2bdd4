"""The traced run: Spark's own accounting per op, read from outside the
package.

Three sources, none of which runs a Spark job:
- every query execution an op triggers, captured by a
  QueryExecutionListener (the package's internal actions included), whose
  final AQE plan is walked for SQL metrics and whose QueryPlanningTracker
  gives planning time;
- the status store's stage data for the op's job group;
- spans the benchmark records around its own calls.

Because Spark is lazy, an operator's work lands in whichever action runs
it, so per-layer numbers come from plan and stage metrics, not from span
nesting.
"""

from __future__ import annotations

JOIN_MARK = "Join"
AGG_MARK = "Aggregate"
PY_METRIC = "pythonNumRowsReceived"


class _Listener:
    """Keeps each QueryExecution for the op under way."""

    def __init__(self):
        self.qes = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self.qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.qes.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = max(int(kv._2().value()), 0)  # unset size metrics read -1
    return out


def _children(node) -> list:
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _unwrap(node):
    """Step through AQE wrappers to the plan that actually ran."""
    while True:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif cls.endswith("QueryStageExec"):
            node = node.plan()
        else:
            return node


class _PlanNode:
    __slots__ = ("cls", "text", "metrics", "children", "location")

    def __init__(self, node):
        node = _unwrap(node)
        self.cls = node.getClass().getSimpleName()
        self.metrics = _metrics(node)
        self.text = node.toString() if PY_METRIC in self.metrics else ""
        self.location = (
            node.relation().location().rootPaths().toString()
            if self.cls == "FileSourceScanExec"
            else ""
        )
        # a reused exchange's work is counted where it first ran
        self.children = (
            [] if self.cls == "ReusedExchangeExec" else [_PlanNode(c) for c in _children(node)]
        )

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def has_generate(self) -> bool:
        return any(n.cls == "GenerateExec" for n in self.walk())

    def rows_in(self) -> "_PlanNode | None":
        """Nearest descendant that counts its output rows."""
        for c in self.children:
            if "numOutputRows" in c.metrics:
                return c
            found = c.rows_in()
            if found is not None:
                return found
        return None


class Tracer:
    """Per-op accounting. begin() before an op, end() after it."""

    def __init__(self, spark, feed_dir: str | None = None):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.feed_dir = feed_dir
        self.cores = self.sc.defaultParallelism
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _Listener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self.store = self.sc._jsc.sc().statusStore()
        self.group = None

    def begin(self, label: str) -> None:
        self.group = label
        self.listener.qes = []
        self.sc.setJobGroup(label, label)

    def end(self, wall_s: float) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        qes = list(self.listener.qes)
        out = self._stage_sums(self.group)
        out.update(self._plan_sums(qes))
        out["spark.busy_frac"] = out["spark.task_run_s"] / (wall_s * self.cores)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return out

    def close(self) -> None:
        # the callback server stays up: shutting it down while the JVM
        # holds a connection to it blocks; it ends with the JVM
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def _stage_sums(self, group: str) -> dict[str, float]:
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        stages = tasks = run_ms = gc_ms = cpu_ns = shuffle = spill = 0
        for s in stage_ids:
            d = self.store.lastStageAttempt(s)
            if d.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            stages += 1
            tasks += d.numCompleteTasks()
            run_ms += d.executorRunTime()
            cpu_ns += d.executorCpuTime()
            gc_ms += d.jvmGcTime()
            shuffle += d.shuffleWriteBytes()
            spill += d.diskBytesSpilled()
        return {
            "spark.jobs": len(job_ids),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.task_run_s": run_ms / 1e3,
            "spark.task_cpu_s": cpu_ns / 1e9,
            "spark.gc_s": gc_ms / 1e3,
            "spark.shuffle_write_bytes": shuffle,
            "spark.spill_bytes": spill,
        }

    def _plan_sums(self, qes) -> dict[str, float]:
        m = dict.fromkeys(
            [
                "spark.plan_s", "spark.broadcast_bytes",
                "cells.candidate_rows", "cells.python_rows", "join.pairs_out",
                "pipeline.agg_rows_in", "pipeline.sort_spill_bytes",
                "geo.python_rows", "geo.python_s", "geo.python_init_s",
                "geo.python_bytes", "sync.feed_bytes_read",
            ],
            0.0,
        )
        gen_in = 0
        for qe in qes:
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                if phases.contains(ph):
                    m["spark.plan_s"] += phases.apply(ph).durationMs() / 1e3
            for n in _PlanNode(qe.executedPlan()).walk():
                mt = n.metrics
                if n.cls == "BroadcastExchangeExec":
                    m["spark.broadcast_bytes"] += mt.get("dataSize", 0)
                elif n.cls == "GenerateExec":
                    m["cells.candidate_rows"] += mt.get("numOutputRows", 0)
                    src = n.rows_in()
                    gen_in += src.metrics["numOutputRows"] if src else 0
                elif JOIN_MARK in n.cls and n.has_generate():
                    m["join.pairs_out"] += mt.get("numOutputRows", 0)
                elif AGG_MARK in n.cls:
                    src = n.rows_in()
                    if src is not None and JOIN_MARK in src.cls:
                        m["pipeline.agg_rows_in"] += src.metrics["numOutputRows"]
                elif n.cls == "FileSourceScanExec" and self.feed_dir and self.feed_dir in n.location:
                    m["sync.feed_bytes_read"] += mt.get("filesSize", 0)
                if n.cls == "SortExec" or AGG_MARK in n.cls:
                    m["pipeline.sort_spill_bytes"] += mt.get("spillSize", 0)
                if PY_METRIC in mt:
                    if "vincenty" in n.text:
                        m["geo.python_rows"] += mt[PY_METRIC]
                        m["geo.python_s"] += mt.get("pythonTotalTime", 0) / 1e3
                        m["geo.python_init_s"] += (
                            mt.get("pythonBootTime", 0) + mt.get("pythonInitTime", 0)
                        ) / 1e3
                        m["geo.python_bytes"] += mt.get("pythonDataSent", 0) + mt.get(
                            "pythonDataReceived", 0
                        )
                    else:
                        m["cells.python_rows"] += mt[PY_METRIC]
        m["cells.candidates_per_row"] = m["cells.candidate_rows"] / gen_in if gen_in else 0.0
        return m
