"""Per-layer metrics of one traced round, named after the engine's modules.

``LAYER_METRICS`` lists every per-layer metric with its unit. ``attribute``
labels each operator of a final plan with the layer that emitted it, from
its operator name and output columns (or its description where Spark's
status store gives no columns). ``round_metrics`` folds the operators,
spans and Spark counts of one round into the metric table. A layer that a
workload never calls reports 0: its predicted change is none.
"""

from __future__ import annotations

LAYER_METRICS = {
    # session.py and the worker patch in trefoil_spark/__init__.py
    "session.get_spark_s": "s",
    "session.first_py_job_s": "s",
    "session.python_boot_ms_per_task": "ms",
    # sources.pages
    "pages.plan_ms": "ms",
    "pages.rows": "count",
    "pages.scan_ms": "ms",
    "pages.broadcast_bytes": "bytes",
    # operators.pip_join
    "pip_join.plan_ms": "ms",
    "pip_join.covering_build_ms": "ms",
    "pip_join.covering_cells": "count",
    "pip_join.broadcast_bytes": "bytes",
    "pip_join.join_rows": "count",
    "pip_join.arrow_rows": "count",
    "pip_join.arrow_bytes_sent": "bytes",
    "pip_join.boundary_rows": "count",
    "pip_join.refine_useful_frac": "ratio",
    "pip_join.python_boot_ms": "ms",
    "pip_join.python_init_ms": "ms",
    "pip_join.python_total_ms": "ms",
    # operators.zonal
    "zonal.plan_ms": "ms",
    "zonal.agg_rows_in": "count",
    "zonal.agg_ms": "ms",
    "zonal.shuffle_bytes": "bytes",
    "zonal.peak_mem_bytes": "bytes",
    # raster.synth, raster.rasterize
    "synth.tiles": "count",
    "synth.python_total_ms": "ms",
    "synth.arrow_bytes_received": "bytes",
    "rasterize.tiles": "count",
    "rasterize.python_total_ms": "ms",
    # raster.zonal
    "raster_zonal.python_total_ms": "ms",
    "raster_zonal.arrow_bytes_sent": "bytes",
    "raster_zonal.partial_rows": "count",
    "raster_zonal.broadcast_bytes": "bytes",
    # raster.window_ops + raster.classify
    "histogram.python_total_ms": "ms",
    "histogram.rows_out": "count",
    # raster.render
    "render.python_total_ms": "ms",
    "render.png_bytes_per_tile": "bytes",
    # raster.warp
    "warp.pairs": "count",
    "warp.shuffle_bytes": "bytes",
    "warp.python_total_ms": "ms",
    # plans.checkpointing
    "checkpoint.call_s": "s",
    "checkpoint.done_keys_ms": "ms",
    "checkpoint.spark_jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.rows_written": "count",
    "checkpoint.skipped_keys": "count",
    "checkpoint.redo_frac": "ratio",
    # __spark_entry__ (declared queries)
    "entry.plan_ms": "ms",
    "entry.analyze_ms": "ms",
    "entry.exec_ms": "ms",
    "entry.spark_jobs": "count",
    "entry.spark_tasks": "count",
    # Spark engine, all jobs of the round
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.shuffle_bytes": "bytes",
    # tracing itself: traced minus untraced job median of the same run
    "trace.job_p50_s": "s",
    "trace.untraced_job_p50_s": "s",
    "trace.overhead_s": "s",
}

_TILE_COLS = ["var", "t", "ty", "tx", "cell", "block", "h", "w"]

# the engine call whose span shows that a layer ran in a round, and the
# layer its operators are attributed to
SPAN_LAYERS = {
    "pages.build_pages": "pages",
    "pages.build_pages_scaled": "pages",
    "pip_join.pip_join": "pip_join",
    "zonal.zonal_statistics": "zonal",
    "synth.synthetic_tiles": "synth",
    "rasterize.rasterize_zones": "rasterize",
    "zonal.tile_zonal_statistics": "raster_zonal",
    "window_ops.tile_histogram": "histogram",
    "render.render_tiles": "render",
    "warp.warp_tiles": "warp",
}
# operators that run Python: every one in these workloads comes from a layer
_PYTHON_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
               "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
               "WindowInPandas")


def attribution_problems(nodes: list[dict], spans: list[dict]) -> list[str]:
    """What the attribution missed in one round: a layer whose engine call
    was recorded but to which no operator was attributed, and Python
    operators attributed to no layer. Either means the engine renamed or
    reshaped an operator that ``attribute`` recognises, and the layer's
    metrics would read 0 as if the layer had not run."""
    seen = {attribute(n) for n in nodes}
    called = {SPAN_LAYERS[s["name"]] for s in spans if s["name"] in SPAN_LAYERS}
    problems = [f"{layer} was called but no operator was attributed to it"
                for layer in sorted(called - seen)]
    for n in nodes:
        if n["node"].startswith(_PYTHON_OPS) and attribute(n) is None:
            problems.append(f"Python operator {n['node']} {n['cols']} has no layer")
    return problems


def _cols(node) -> set:
    return set(node["cols"] or ())


def attribute(node: dict) -> str | None:
    """The layer that emitted an operator, or None (other operators)."""
    name, cols, desc = node["node"], _cols(node), node["desc"] or ""
    known = node["cols"] is not None
    if name.startswith("Scan parquet") and (not known or "text" in cols):
        return "pages"
    if name == "BroadcastNestedLoopJoin" and (not known or "rep" in cols):
        return "pages"
    if name == "BroadcastExchange":
        if known:
            if {"c1", "fids", "r1"} <= cols or {"c2", "r2"} == cols:
                return "pip_join"
            if {"doc_id", "text"} <= cols:
                return "pages"
            if "zone_block" in cols:
                return "raster_zonal"
            return None
        return "pip_join" if "HashedRelation" in desc else "pages"
    if name == "BroadcastHashJoin" and (not known or "c2" in cols):
        return "pip_join"
    if name == "ArrowEvalPython" and (not known or "_cf" in cols):
        return "pip_join"
    if name == "HashAggregate" and node["cols"] and node["cols"][0] == "zone_value":
        return "zonal"
    if name == "MapInPandas" and known:
        if node["cols"] == _TILE_COLS:
            return "synth"
        if "zone_block" in cols:
            return "rasterize"
        if "psum" in cols:
            return "raster_zonal"
        if cols == {"value", "pcount"}:
            return "histogram"
        if "png" in cols:
            return "render"
    if name == "FlatMapGroupsInPandas" and node["cols"] == _TILE_COLS:
        return "warp"
    if name == "Generate" and {"sty", "stx"} <= cols:
        return "warp"
    return None


def _m(node, key) -> float:
    return float(node["metrics"].get(key, 0))


def _first_rows_below(nodes, idx) -> float:
    todo = list(nodes[idx]["children"])
    while todo:
        n = nodes[todo.pop(0)]
        if "numOutputRows" in n["metrics"]:
            return float(n["metrics"]["numOutputRows"])
        todo[:0] = n["children"]
    return 0.0


def _ms(spans, prefix) -> float:
    return 1000.0 * sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


def round_metrics(nodes: list[dict], spans: list[dict], counts: dict, extra: dict) -> dict:
    """Per-layer metrics of one round.

    ``nodes``: operators of every action of the round, as joined by
    ``concat_plans``. ``counts``: Spark job, stage
    and task counts of the round. ``extra``: values only the workload
    knows (boundary rows, covering cells) and the round's checkpoint
    figures (``observe.checkpoint_metrics``).
    """
    out = {k: 0.0 for k in LAYER_METRICS if not k.startswith(("session.", "trace."))}
    py = ("pythonBootTime", "pythonInitTime", "pythonTotalTime")
    for i, n in enumerate(nodes):
        layer = attribute(n)
        n["layer"] = layer
        name = n["node"]
        if layer == "pages":
            if name.startswith("Scan parquet"):
                out["pages.scan_ms"] += _m(n, "scanTime")
                n["_scan_rows"] = _m(n, "numOutputRows")
            elif name == "BroadcastNestedLoopJoin":
                out["pages.rows"] += _m(n, "numOutputRows")
            else:
                out["pages.broadcast_bytes"] += _m(n, "dataSize")
        elif layer == "pip_join":
            if name == "BroadcastExchange":
                out["pip_join.broadcast_bytes"] += _m(n, "dataSize")
            elif name == "BroadcastHashJoin":
                if n["cols"] is not None:
                    out["pip_join.join_rows"] += _m(n, "numOutputRows")
                else:  # both covering joins keep every row; count one
                    n["_join_rows"] = _m(n, "numOutputRows")
            else:
                out["pip_join.arrow_rows"] += _m(n, "pythonNumRowsReceived")
                out["pip_join.arrow_bytes_sent"] += _m(n, "pythonDataSent")
                for key, metric in zip(py, ("boot", "init", "total")):
                    out[f"pip_join.python_{metric}_ms"] += _m(n, key)
        elif layer == "zonal":
            out["zonal.agg_ms"] += _m(n, "aggTime")
            out["zonal.peak_mem_bytes"] = max(out["zonal.peak_mem_bytes"], _m(n, "peakMemory"))
            parent = nodes[n["parent"]] if n.get("parent") is not None else None
            if parent is not None and parent["node"] == "Exchange":  # the partial side
                out["zonal.agg_rows_in"] += _first_rows_below(nodes, i)
                out["zonal.shuffle_bytes"] += _m(parent, "shuffleBytesWritten")
        elif layer in ("synth", "rasterize"):
            out[f"{layer}.tiles"] += _m(n, "pythonNumRowsReceived")
            out[f"{layer}.python_total_ms"] += _m(n, "pythonTotalTime")
            if layer == "synth":
                out["synth.arrow_bytes_received"] += _m(n, "pythonDataReceived")
        elif layer == "raster_zonal":
            if name == "BroadcastExchange":
                out["raster_zonal.broadcast_bytes"] += _m(n, "dataSize")
            else:
                out["raster_zonal.python_total_ms"] += _m(n, "pythonTotalTime")
                out["raster_zonal.arrow_bytes_sent"] += _m(n, "pythonDataSent")
                out["raster_zonal.partial_rows"] += _m(n, "pythonNumRowsReceived")
        elif layer == "histogram":
            out["histogram.python_total_ms"] += _m(n, "pythonTotalTime")
            out["histogram.rows_out"] += _m(n, "pythonNumRowsReceived")
        elif layer == "render":
            out["render.python_total_ms"] += _m(n, "pythonTotalTime")
            rows = _m(n, "pythonNumRowsReceived")
            if rows:
                out["render.png_bytes_per_tile"] = _m(n, "pythonDataReceived") / rows
        elif layer == "warp":
            if name == "Generate":
                out["warp.pairs"] += _m(n, "numOutputRows")
            else:
                out["warp.python_total_ms"] += _m(n, "pythonTotalTime")
                out["warp.shuffle_bytes"] += _exchange_below(nodes, i)
    if not out["pages.rows"]:  # unscaled pages: the documents scan is the source
        out["pages.rows"] = sum(n.get("_scan_rows", 0.0) for n in nodes)
    if not out["pip_join.join_rows"]:
        by_exec: dict = {}
        for n in nodes:
            if "_join_rows" in n:
                by_exec[n.get("execution")] = max(by_exec.get(n.get("execution"), 0), n["_join_rows"])
        out["pip_join.join_rows"] = float(sum(by_exec.values()))

    out["pages.plan_ms"] = _ms(spans, "pages.build_pages")
    out["pip_join.plan_ms"] = _ms(spans, "pip_join.pip_join")
    out["zonal.plan_ms"] = _ms(spans, "zonal.zonal_statistics")
    out["pip_join.boundary_rows"] = float(extra.get("boundary_rows", 0))
    out["pip_join.covering_cells"] = float(extra.get("covering_cells", 0))
    out["pip_join.covering_build_ms"] = float(extra.get("covering_build_ms", 0))
    if out["pip_join.arrow_rows"]:
        out["pip_join.refine_useful_frac"] = out["pip_join.boundary_rows"] / out["pip_join.arrow_rows"]

    for key in ("jobs", "stages", "tasks", "task_failures", "shuffle_bytes"):
        out[f"spark.{key}"] = float(counts[key])
    if any(s["name"].startswith("entry.") for s in spans):
        out["entry.plan_ms"] = _ms(spans, "entry.")
        out["entry.analyze_ms"] = _ms(spans, "action.analyze")
        out["entry.exec_ms"] = _ms(spans, "action.execute")
        out["entry.spark_jobs"] = float(counts["jobs"])
        out["entry.spark_tasks"] = float(counts["tasks"])
    cp = extra.get("checkpoint")
    if cp:
        out["checkpoint.call_s"] = _ms(spans, "checkpointing.checkpointed_write") / 1000.0
        out["checkpoint.done_keys_ms"] = _ms(spans, "checkpointing.done_keys")
        for key, value in cp.items():
            out[f"checkpoint.{key}"] = float(value)
    return out


def _exchange_below(nodes, idx) -> float:
    """Shuffle bytes of the first Exchange under an operator."""
    todo = list(nodes[idx]["children"])
    while todo:
        n = nodes[todo.pop(0)]
        if n["node"] == "Exchange":
            return _m(n, "shuffleBytesWritten")
        todo.extend(n["children"])
    return 0.0


def boundary_rows(lon, lat, index: dict) -> int:
    """Points whose cells the covering index leaves unresolved: the rows
    that need the exact point-in-polygon refine."""
    import numpy as np

    from trefoil_spark.grid import cells

    res, fine_res = index["res"], index["fine_res"]
    ix, iy = cells.lonlat_to_xy(lon, lat, fine_res)
    step = fine_res - res
    coarse = cells.xy_to_cell(ix >> step, iy >> step, res)
    fine = cells.xy_to_cell(ix, iy, fine_res)
    coarse_boundary = np.array([c for c, _, r in index["coarse"] if r is None], dtype=np.int64)
    fine_resolved = np.array([c for c, r in index["fine"] if r is not None], dtype=np.int64)
    needs = np.isin(coarse, coarse_boundary) & ~np.isin(fine, fine_resolved)
    return int(needs.sum())


def concat_plans(nodes_by_action: list[list[dict]]) -> list[dict]:
    """Concatenate per-action operator lists, re-basing their links."""
    out: list[dict] = []
    for nodes in nodes_by_action:
        base = len(out)
        for n in nodes:
            n = dict(n)
            n["children"] = [c + base for c in n["children"]]
            if n.get("parent") is not None:
                n["parent"] += base
            out.append(n)
    return out
