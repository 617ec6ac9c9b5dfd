"""Measurement from outside the engine: spans, Spark metrics, processes.

- ``Tracer`` records spans (name, start, end, parent; one id per job) in
  memory. In traced runs the benchmark wraps the engine's public functions
  with ``Tracer.instrument`` so each call becomes a span; untraced runs
  record nothing.
- ``plan_nodes`` walks the final adaptive plan of a DataFrame that has been
  executed through its own ``QueryExecution`` and returns every operator's
  exact ``SQLMetric`` values. ``execution_nodes`` reads the same operators
  from Spark's SQL status store for executions the benchmark does not hold
  a DataFrame for (eager calls such as ``checkpointed_write``); there the
  values are Spark's formatted strings, parsed back to numbers.
- ``group_counts`` reads job, stage and task counts from the status tracker.
- ``RssSampler`` samples the resident memory of this process and all its
  descendants (the JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans. Disabled tracers record nothing and cost nothing."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.job: str | None = None
        self.checkpoints: list[dict] = []  # see observe_checkpoints
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "job": self.job,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def instrument(self, targets: dict[str, list[str]]) -> None:
        """Wrap ``module.function`` for every listed name, and rebind every
        module-level alias of it, so each call records a span named
        ``module.function`` (short module name). Only the running process is affected."""
        import importlib
        import sys

        for modname, names in targets.items():
            mod = importlib.import_module(modname)
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = self._wrap(orig, f"{modname.rsplit('.', 1)[-1]}.{fname}")
                for other in list(sys.modules.values()):
                    oname = getattr(other, "__name__", "") or ""
                    if not (oname.startswith("trefoil_spark") or oname == "__spark_entry__"):
                        continue
                    for attr, val in list(vars(other).items()):
                        if val is orig:
                            setattr(other, attr, wrapped)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def disk_usage(*paths: str) -> tuple[int, int]:
    """(bytes, files) of every file under ``paths``."""
    total = files = 0
    for base in paths:
        for root, _, names in os.walk(base):
            for n in names:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def parquet_rows(path: str) -> int:
    """Rows of a parquet dataset, from the file footers."""
    import pyarrow.parquet as pq

    rows = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
    return rows


def observe_checkpoints(tracer: Tracer, spark_of) -> None:
    """Record every ``checkpointed_write`` call of a traced job: its result,
    the Spark jobs it ran, and what its output and ledger hold on disk
    afterwards. Wraps the (already span-wrapped) module function."""
    from trefoil_spark.plans import checkpointing

    inner = checkpointing.checkpointed_write

    @functools.wraps(inner)
    def observed(df, out_path, checkpoint_dir, stage, key_cols):
        if not tracer.enabled:
            return inner(df, out_path, checkpoint_dir, stage, key_cols)
        spark = spark_of()
        jobs0 = len(group_job_ids(spark))
        result = inner(df, out_path, checkpoint_dir, stage, key_cols)
        size, files = disk_usage(out_path, checkpoint_dir)
        tracer.checkpoints.append({
            "job": tracer.job, "out": out_path, "ledger": checkpoint_dir,
            "result": dict(result), "spark_jobs": len(group_job_ids(spark)) - jobs0,
            "bytes": size, "files": files, "rows_on_disk": parquet_rows(out_path),
        })
        return result

    checkpointing.checkpointed_write = observed


def checkpoint_metrics(calls: list[dict]) -> dict:
    """Checkpoint layer figures of one round's ``checkpointed_write`` calls.
    ``redo_frac``: rows the restarted call wrote / rows not committed
    before it (1.0 = no wasted work)."""
    last: dict = {}
    for c in calls:  # a later call on the same output supersedes the disk state
        last[(c["out"], c["ledger"])] = c
    redo = []
    for key, c in last.items():
        before = [p for p in calls if (p["out"], p["ledger"]) == key and p is not c]
        committed = sum(p["result"]["written_rows"] for p in before)
        if before and c["rows_on_disk"] > committed:
            redo.append(c["result"]["written_rows"] / (c["rows_on_disk"] - committed))
    return {
        "spark_jobs": sum(c["spark_jobs"] for c in calls),
        "bytes_written": sum(c["bytes"] for c in last.values()),
        "files_written": sum(c["files"] for c in last.values()),
        "rows_written": sum(c["result"]["written_rows"] for c in calls),
        "skipped_keys": sum(c["result"]["skipped_keys"] for c in calls),
        "redo_frac": sum(redo) / len(redo) if redo else 0.0,
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the time covered by children."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        d = (s["end"] - s["start"]) - child[s["id"]]
        out[s["name"]] = out.get(s["name"], 0.0) + d
    return out


# ---------------------------------------------------------------------------
# final-plan SQLMetrics
# ---------------------------------------------------------------------------

def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _node_record(node) -> dict:
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    return {
        "node": node.nodeName(),
        "cols": [a.name() for a in _scala_seq(node.output())],
        "desc": node.simpleString(25),
        "metrics": metrics,
        "children": [],
    }


def plan_nodes(df) -> list[dict]:
    """Every operator of ``df``'s final adaptive plan, parent before child.

    Steps into each query stage's plan, so operators inside materialized
    shuffle and broadcast stages are included. ``df`` must have been
    executed through its own QueryExecution (``collect``/``toPandas``).
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    out: list[dict] = []

    def walk(node, parent_idx):
        cls = node.getClass().getSimpleName()
        if cls.endswith("QueryStageExec"):
            walk(node.plan(), parent_idx)
            return
        if cls in ("InputAdapter", "WholeStageCodegenExec", "ReusedExchangeExec"):
            for c in _scala_seq(node.children()):
                walk(c, parent_idx)
            return
        rec = _node_record(node)
        rec["parent"] = parent_idx
        out.append(rec)
        idx = len(out) - 1
        if parent_idx is not None:
            out[parent_idx]["children"].append(idx)
        for c in _scala_seq(node.children()):
            walk(c, idx)

    walk(plan, None)
    return out


# display name -> SQLMetric key, for the metrics the layer table reads
_DISPLAY_KEYS = {
    "number of output rows": "numOutputRows",
    "time to run Python workers": "pythonTotalTime",
    "time to start Python workers": "pythonBootTime",
    "time to initialize Python workers": "pythonInitTime",
    "data sent to Python workers": "pythonDataSent",
    "data returned from Python workers": "pythonDataReceived",
    "data size": "dataSize",
    "shuffle bytes written": "shuffleBytesWritten",
    "scan time": "scanTime",
    "time in aggregation build": "aggTime",
    "peak memory": "peakMemory",
}
_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def _parse_metric(text: str) -> float | None:
    """Spark's formatted metric value ('10,000', '8.0 MiB', 'total (min,
    med, max ...)\\n4.7 s (...)') back to a number in bytes or ms."""
    line = text.split("\n")[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1)


def execution_nodes(spark, job_ids: set[int]) -> list[dict]:
    """Operators of every SQL execution that ran one of ``job_ids``, from
    the SQL status store. Used for eager calls whose DataFrames the
    benchmark never holds; values are parsed from Spark's formatting and
    keep its 2-3 significant digits."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: list[dict] = []
    for ex in _scala_seq(store.executionsList()):
        ids = ex.jobs().keySet().toSeq()
        if not any(int(j) in job_ids for j in _scala_seq(ids)):
            continue
        values = store.executionMetrics(ex.executionId())
        graph = store.planGraph(ex.executionId())
        for nd in _scala_seq(graph.allNodes()):
            metrics = {}
            for pm in _scala_seq(nd.metrics()):
                v = values.get(pm.accumulatorId())
                key = _DISPLAY_KEYS.get(pm.name())
                if key is None or not v.isDefined():
                    continue
                if key == "numOutputRows" and nd.name() in _PY_NODES:
                    key = "pythonNumRowsReceived"
                parsed = _parse_metric(v.get())
                if parsed is not None:
                    metrics[key] = parsed
            out.append(
                {"node": nd.name(), "cols": None, "desc": nd.desc(), "metrics": metrics,
                 "children": [], "parent": None, "execution": int(ex.executionId())}
            )
    return out


# ---------------------------------------------------------------------------
# job / stage / task counts
# ---------------------------------------------------------------------------

def group_job_ids(spark) -> list[int]:
    """Spark job ids of the calling thread's current job group."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    return [int(j) for j in sc._jsc.sc().statusTracker().getJobIdsForGroup(group)] if group else []


def group_counts(spark, group: str) -> dict:
    """Jobs, stages run, tasks, failed tasks, shuffle bytes written and
    summed task run time of every Spark job of a job group."""
    jsc = spark.sparkContext._jsc.sc()
    tracker, store = jsc.statusTracker(), jsc.statusStore()
    job_ids = [int(j) for j in tracker.getJobIdsForGroup(group)]
    stages = tasks = failed = shuffle = task_ms = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info.isEmpty():
            continue
        for sid in info.get().stageIds():
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:  # py4j error: stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += sd.numTasks()
            failed += sd.numFailedTasks()
            shuffle += sd.shuffleWriteBytes()
            task_ms += sd.executorRunTime()
    return {
        "job_ids": job_ids,
        "jobs": len(job_ids),
        "stages": stages,
        "tasks": tasks,
        "task_failures": failed,
        "shuffle_bytes": shuffle,
        "task_time_ms": task_ms,
    }


# ---------------------------------------------------------------------------
# processes and run conditions
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        root = os.getpid()
        pids = descendants(root)
        n = 0
        while not self._stop.is_set():
            if n % 20 == 0:  # the tree changes rarely; rescan once a second
                pids = descendants(root)
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self.samples += 1
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def conditions(sample_s: float = 0.25) -> dict:
    """Load average and steal share of CPU time over a short window."""
    s0, t0 = cpu_ticks()
    time.sleep(sample_s)
    s1, t1 = cpu_ticks()
    load1, load5, _ = os.getloadavg()
    return {
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1),
    }


def steal_between(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)

