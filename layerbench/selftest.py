"""Smoke self-test of the benchmark: every workload once, untraced and
traced, at tiny sizes.

    python3 layerbench/selftest.py

Asserts that the layer attribution fails a round whose operators it does
not recognise, that each run is correct (failed_frac = 0), that every
metric named for the workload is printed with its unit, that the last line
carries every end-to-end (untraced) or per-layer (traced) metric of
BENCHMARK.json, and that the traced run wrote its per-layer record with the
tracing overhead.
Takes a few minutes; runs one Spark application at a time.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from layerbench.layers import LAYER_METRICS, attribution_problems  # noqa: E402
from layerbench.run import E2E_UNITS  # noqa: E402
from layerbench.workloads import WORKLOADS  # noqa: E402

# end-to-end metrics printed per workload, with their units
PRINTED = {
    "setup_s": "s", "job_p50_s": "s", "queries_per_s": "1/s", "peak_rss_mb": "MB",
    "failed_frac": "ratio", "job_p90_s": "s",
}
PRINTED_FOR = {
    "geo_zonal": {"rows_per_s": "rows/s"},
    "geo_join_write": {"rows_per_s": "rows/s", "write_amp": "ratio"},
    "tile_raster": {"mpix_per_s": "Mpx/s"},
    "query_mix": {},
}
LINE = re.compile(r"^(\S+) = (\S+) (\S+) \(n=")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "layerbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stdout}\n{p.stderr[-4000:]}"
    lines = p.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        m = LINE.match(line)
        if m:
            printed[m.group(1)] = (m.group(2), m.group(3))
    return json.loads(lines[-1]), printed


def check_attribution() -> None:
    """A layer whose operators the attribution no longer recognises fails
    the traced round instead of reading 0."""
    span = {"name": "pip_join.pip_join"}
    refine = {"node": "ArrowEvalPython", "cols": ["lat", "lon", "_cf"], "desc": "", "metrics": {}}
    assert attribution_problems([refine], [span]) == []
    renamed = dict(refine, cols=["lat", "lon", "_cf2"])
    assert len(attribution_problems([renamed], [span])) == 2  # layer unseen, Python op unowned
    assert attribution_problems([renamed], []) != []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    check_attribution()
    for name in WORKLOADS:
        for trace in (0, 1):
            result, printed = run(name, trace)
            assert result["correct"] and result["failed"] == 0, (name, trace, result)
            assert result["attempted"] >= 2, (name, trace, result)
            want = E2E_UNITS if trace == 0 else LAYER_METRICS
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (name, trace, sorted(set(got) ^ set(want)))
            for metric, unit in {**PRINTED, **PRINTED_FOR[name]}.items():
                assert metric in printed, (name, trace, metric, sorted(printed))
                assert printed[metric][1] == unit, (name, metric, printed[metric])
            assert float(printed["failed_frac"][0]) == 0.0
            if trace:
                path = os.path.join(ROOT, ".layerbench", "records", f"{name}-seed7.json")
                with open(path) as f:
                    record = json.load(f)
                assert "tracing_overhead_s" in record and record["traced_rounds"], name
            print(f"ok {name} trace={trace}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
