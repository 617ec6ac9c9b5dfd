"""Run one benchmark workload and print its metrics.

    python3 layerbench/run.py --workload geo_zonal --seed 1 --seconds 10 --trace 0

Run from the repository root. The seed generates every input; Spark runs as
local[N] with N = nproc and N shuffle partitions; one client (this process)
keeps one job in flight. After set-up (session, first Python task and one
discarded warm-up round) and two discarded settle rounds (none in
query_mix), whole rounds are timed as long as they fit in ``--seconds``
(at least one). Every job's output, warm-up and settle
included, is checked.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds, prints the per-layer metrics and writes the
per-layer record to ``.layerbench/records/``. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the engine's public functions a traced run records spans around
TRACED_CALLS = {
    "trefoil_spark.session": ["get_spark"],
    "trefoil_spark.sources.pages": ["build_pages", "build_pages_scaled"],
    "trefoil_spark.operators.pip_join": ["pip_join", "build_covering_index"],
    "trefoil_spark.operators.zonal": ["zonal_statistics"],
    "trefoil_spark.raster.synth": ["synthetic_tiles"],
    "trefoil_spark.raster.rasterize": ["rasterize_zones"],
    "trefoil_spark.raster.zonal": ["tile_zonal_statistics"],
    "trefoil_spark.raster.window_ops": ["tile_histogram"],
    "trefoil_spark.raster.render": ["render_tiles"],
    "trefoil_spark.raster.warp": ["warp_tiles"],
    "trefoil_spark.plans.checkpointing": ["checkpointed_write", "done_keys"],
}

E2E_UNITS = {"setup_s": "s", "job_p50_s": "s", "queries_per_s": "1/s", "peak_rss_mb": "MB"}
CPU_NOTE = (
    "python_* and *_ms operator times are summed over tasks, so they are task "
    "(CPU) time, not wall time; a layer's saving in wall time is at most its "
    "share of the stages that block the result. wall_share: each span's self "
    "time / the round's wall time. python_ms_per_task_ms: Python operator "
    "time / summed task time of the round; above 1 when Python operators of "
    "one stage run pipelined in the same task."
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


class Ctx:
    """What a workload's job sees: the session, the tracer, the seed."""

    def __init__(self, tracer, seed, work):
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.spark = None
        self.job_index = 0
        self.executed: list = []  # DataFrames of the current job's actions

    def action(self, df, pandas=False):
        """Run ``df`` through its own QueryExecution and return its rows."""
        if not self.tracer.enabled:
            return df.toPandas() if pandas else df.collect()
        with self.tracer.span("action.analyze"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("action.execute"):
            out = df.toPandas() if pandas else df.collect()
        self.executed.append(df)
        return out


def start_spark(work: str, cores: int):
    from trefoil_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = session.get_spark(
        app_name="layerbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file: the JVM would write it outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from layerbench.observe import descendants

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of its standard input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(os.path.exists(f"/proc/{p}") for p in alive):
        time.sleep(0.1)


def first_python_job(ctx, cores: int) -> tuple[float, float]:
    """One trivial mapInPandas job with one task per core: (seconds,
    Σ pythonBootTime / tasks in ms)."""
    from layerbench.observe import plan_nodes

    def identity(batches):
        yield from batches

    t0 = time.perf_counter()
    df = ctx.spark.range(0, cores, numPartitions=cores).mapInPandas(identity, "id long")
    df.collect()
    seconds = time.perf_counter() - t0
    boot = sum(n["metrics"].get("pythonBootTime", 0) for n in plan_nodes(df))
    return seconds, boot / cores


def run_round(ctx, workload, round_no, traced, record, spans=None, phase="timed") -> None:
    """Run one round and keep each job's time, output and error; a traced
    round also keeps its operators, spans and Spark counts. ``spans``
    records spans without tracing the round (the warm-up of a traced run,
    where the cold covering-index build happens). ``phase``: warmup,
    settle or timed; only timed jobs enter the metrics, all are checked."""
    from layerbench import layers, observe

    tracer, spark = ctx.tracer, ctx.spark
    group = f"layerbench-{round_no}"
    tracer.enabled = traced if spans is None else spans
    if traced:
        spark.sparkContext.setJobGroup(group, f"layerbench round {round_no}")
    plans = []  # operators of each action of the round
    for job in workload.round_jobs():
        ctx.job_index += 1
        tracer.job = f"{round_no}:{job}"
        ctx.executed = []
        error = out = None
        t0 = time.perf_counter()
        try:
            with tracer.span("job"):
                out = workload.run_job(ctx, job)
        except Exception:
            error = traceback.format_exc()
        seconds = time.perf_counter() - t0
        if traced:  # outside the timed region
            plans.extend(observe.plan_nodes(df) for df in ctx.executed)
        record["jobs"].append({
            "round": round_no, "phase": phase, "job": job, "index": ctx.job_index, "traced": traced,
            "seconds": seconds, "out": out, "error": error,
        })
    tracer.enabled = False
    if traced:
        spark.sparkContext._jsc.clearJobGroup()
        counts = observe.group_counts(spark, group)
        if workload.eager:
            plans.append(observe.execution_nodes(spark, set(counts["job_ids"])))
        record["traced_rounds"].append({
            "round": round_no,
            "nodes": layers.concat_plans(plans),
            "counts": counts,
            "spans": [s for s in tracer.spans if s["job"] and s["job"].startswith(f"{round_no}:")],
        })


def check_jobs(workload, record) -> None:
    """Check every job's output against the expectation."""
    for j in record["jobs"]:
        if j["error"] is None:
            try:
                j["error"] = workload.check(j["job"], j["out"])
            except Exception:
                j["error"] = traceback.format_exc()
        if j["error"]:
            print(f"job {j['job']} (round {j['round']}) failed: {j['error']}", file=sys.stderr)
        workload.cleanup(j["index"])


def layer_record(workload, record) -> list[dict]:
    """Per-layer metrics of every traced round. A round in which a layer ran
    but the attribution found none of its operators fails its jobs."""
    from layerbench import layers, observe

    rounds = []
    for r in record["traced_rounds"]:
        jobs = [j for j in record["jobs"] if j["round"] == r["round"]]
        extra = dict(record["layer_extra"])
        calls = [c for c in record["checkpoints"] if c["job"].startswith(f"{r['round']}:")]
        if calls:
            extra["checkpoint"] = observe.checkpoint_metrics(calls)
        metrics = layers.round_metrics(r["nodes"], r["spans"], r["counts"], extra)
        problems = layers.attribution_problems(r["nodes"], r["spans"])
        if not calls and any(s["name"] == "checkpointing.checkpointed_write" for s in r["spans"]):
            problems.append("checkpointed_write was called but no call was observed")
        for j in jobs:  # a layer that reads 0 although it ran fails the round
            if problems and not j["error"]:
                j["error"] = "layer attribution: " + "; ".join(problems)
                print(f"job {j['job']} (round {j['round']}) failed: {j['error']}", file=sys.stderr)
        wall = sum(j["seconds"] for j in jobs)
        python_ms = sum(v for k, v in metrics.items() if k.endswith("python_total_ms"))
        task_ms = r["counts"]["task_time_ms"]
        rounds.append({
            "round": r["round"],
            "wall_s": wall,
            "metrics": metrics,
            "counts": r["counts"],
            "attribution_problems": problems,
            "python_ms_per_task_ms": python_ms / task_ms if task_ms else 0.0,
            "wall_share": {k: v / wall for k, v in observe.self_times(r["spans"]).items()},
            "spans": r["spans"],
            "operators": [
                {k: n.get(k) for k in ("node", "layer", "cols", "metrics")} for n in r["nodes"]
            ],
        })
    return rounds


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("trefoil_spark", "__spark_entry__.py", "tools/check_entry.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"layerbench: not a trefoil_spark checkout (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)  # Python workers import the engine from the working directory
    from layerbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"layerbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".layerbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    try:
        return run(args, cores, work, WORKLOADS[args.workload](SIZES[args.size][args.workload]))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cores, work, workload) -> int:
    from layerbench import observe

    before = observe.conditions()
    ticks0 = observe.cpu_ticks()
    workload.write_inputs(work, args.seed)
    t_setup = time.perf_counter()
    tracer = observe.Tracer(enabled=bool(args.trace), t0=t_setup)
    tracer.job = "setup"
    ctx = Ctx(tracer, args.seed, work)
    record = {"jobs": [], "traced_rounds": [], "layer_extra": {}, "checkpoints": tracer.checkpoints}
    info = {"inputs_s": t_setup - T_START, "before": before}
    with observe.RssSampler() as rss:
        try:
            if args.trace:
                import __spark_entry__  # noqa: F401  (its aliases get wrapped too)

                tracer.instrument(TRACED_CALLS)
                observe.observe_checkpoints(tracer, lambda: ctx.spark)
            t0 = time.perf_counter()
            ctx.spark = start_spark(work, cores)
            info["get_spark_s"] = time.perf_counter() - t0
            if args.trace:  # untraced runs meet their first Python task in the warm-up
                info["first_py_job_s"], info["boot_ms"] = first_python_job(ctx, cores)
            workload.setup(ctx)
            run_round(ctx, workload, 0, False, record, spans=bool(args.trace), phase="warmup")
            info["setup_s"] = time.perf_counter() - t_setup
            builds = [s["end"] - s["start"] for s in tracer.spans
                      if s["name"] == "pip_join.build_covering_index"]
            # settle: discarded rounds; after one cold round, job times keep
            # falling for a few more jobs while the JIT compiles and Python
            # workers import the kernels
            round_no, t_settle = 1, time.perf_counter()
            for _ in range(workload.settle_rounds):
                run_round(ctx, workload, round_no, False, record, phase="settle")
                round_no += 1
            t_loop = time.perf_counter()
            info["settle_s"] = t_loop - t_settle
            # timed: whole rounds that fit in the window (at least one, and
            # one of each kind in a traced run), so the number of timed
            # rounds follows the window, not where a late round happens to end
            need = {False, True} if args.trace else {False}
            round_s: list[float] = []
            while True:
                kinds = {j["traced"] for j in record["jobs"] if j["phase"] == "timed"}
                if round_s and need <= kinds and (
                    time.perf_counter() - t_loop + statistics.median(round_s) > args.seconds
                ):
                    break
                t0 = time.perf_counter()
                run_round(ctx, workload, round_no, bool(args.trace) and round_no % 2 == 0, record)
                round_s.append(time.perf_counter() - t0)
                round_no += 1
            info["measured_s"] = time.perf_counter() - t_loop
        finally:
            t0 = time.perf_counter()
            if ctx.spark is not None:
                stop_spark(ctx.spark)
            info["stop_s"] = time.perf_counter() - t0
    info["peak_rss_mb"] = rss.peak / 2**20
    info["rss_samples"] = rss.samples
    t0 = time.perf_counter()
    workload.expect()
    check_jobs(workload, record)
    if args.trace:
        record["layer_extra"] = workload.layer_extra()
        record["layer_extra"]["covering_build_ms"] = 1000.0 * max(builds, default=0.0)
    info["check_s"] = time.perf_counter() - t0
    info["after"] = observe.conditions()
    info["steal_pct_run"] = observe.steal_between(ticks0, observe.cpu_ticks())
    return report(args, cores, workload, record, info)


def summarize(workload, jobs: list[dict], info: dict) -> dict:
    """End-to-end figures of the untraced timed jobs: name -> (value, unit, n)."""
    times = [j["seconds"] for j in jobs]
    total = sum(times)
    rounds = len({j["round"] for j in jobs})
    out = {
        "setup_s": (info["setup_s"], "s", 1),
        "job_p50_s": (statistics.median(times), "s", len(times)),
        "queries_per_s": (len(times) / total, "1/s", len(times)),
        "peak_rss_mb": (info["peak_rss_mb"], "MB", info["rss_samples"]),
    }
    units = workload.work_units()
    if "rows" in units:
        out["rows_per_s"] = (units["rows"] * rounds / total, "rows/s", len(times))
    if "mpix" in units:
        out["mpix_per_s"] = (units["mpix"] * rounds / total, "Mpx/s", len(times))
    # reported only with at least ten samples beyond the 90th percentile
    p90 = statistics.quantiles(times, n=10)[-1] if len(times) >= 100 else None
    out["job_p90_s"] = (p90, "s", len(times))
    amps = [workload.write_amp(j["out"]) for j in jobs if workload.eager and not j["error"]]
    if amps:
        out["write_amp"] = (statistics.median(amps), "ratio", len(amps))
    return out


def report(args, cores, workload, record, info) -> int:
    from layerbench.layers import LAYER_METRICS

    jobs = record["jobs"]
    rounds = layer_record(workload, record) if args.trace else None  # may fail jobs
    timed = [j for j in jobs if j["phase"] == "timed"]
    failed = sum(1 for j in jobs if j["error"])
    conditions = {
        "nproc": cores,
        "master": f"local[{cores}]",
        "before": info["before"],
        "after": info["after"],
        "steal_pct_run": info["steal_pct_run"],
    }
    untraced = [j for j in timed if not j["traced"]]
    e2e = summarize(workload, untraced, info)
    e2e["failed_frac"] = (failed / len(jobs), "ratio", len(jobs))
    print(f"workload {args.workload} seed {args.seed} size {args.size} trace {args.trace} "
          f"on {conditions['master']}: {len(timed)} timed jobs in {info['measured_s']:.2f} s "
          f"after {info['settle_s']:.2f} s of settle rounds; stop {info['stop_s']:.2f} s, "
          f"checks {info['check_s']:.2f} s, {time.perf_counter() - T_START:.2f} s in all")
    print(f"conditions: {json.dumps(conditions)}")
    print("jobs: " + " ".join(
        f"{j['job']}{'*' if j['traced'] else ''}={j['seconds']:.3f}" for j in timed))
    for name, (value, unit, n) in e2e.items():
        if value is None:
            print(f"{name} = n/a {unit} (n={n}; needs >= 100 jobs)")
        else:
            print(f"{name} = {value:.6g} {unit} (n={n})")

    metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in E2E_UNITS.items()}
    if args.trace:
        traced = [j["seconds"] for j in timed if j["traced"]]
        med = {k: statistics.median(r["metrics"][k] for r in rounds) for k in rounds[0]["metrics"]}
        med["session.get_spark_s"] = info["get_spark_s"]
        med["session.first_py_job_s"] = info["first_py_job_s"]
        med["session.python_boot_ms_per_task"] = info["boot_ms"]
        med["trace.job_p50_s"] = statistics.median(traced)
        med["trace.untraced_job_p50_s"] = e2e["job_p50_s"][0]
        med["trace.overhead_s"] = med["trace.job_p50_s"] - med["trace.untraced_job_p50_s"]
        metrics = {k: {"value": med[k], "unit": u} for k, u in LAYER_METRICS.items()}
        path = os.path.join(ROOT, ".layerbench", "records", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed, "size": args.size,
                "sizes": workload.size, "conditions": conditions, "note": CPU_NOTE,
                "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
                "setup": {k: info[k] for k in ("inputs_s", "get_spark_s", "first_py_job_s", "setup_s")},
                "tracing_overhead_s": med["trace.overhead_s"],
                "per_layer": metrics,
                "layer_extra": record["layer_extra"],
                "traced_rounds": rounds,
                "jobs": [{k: j[k] for k in ("round", "job", "traced", "seconds", "error")} for j in jobs],
            }, f, indent=1, default=str)
        print(f"per-layer record: {os.path.relpath(path, ROOT)} "
              f"(tracing overhead {med['trace.overhead_s']:+.4f} s per job)")
    print(json.dumps({"correct": failed == 0, "attempted": len(jobs), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
