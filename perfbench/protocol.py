#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarize, surviving failed runs.

    python3 perfbench/protocol.py --workloads serve,query_mix --seeds 1-10 \
        [--trace 0] [--out .perfbench/protocol.json]

Each run is a fresh `perfbench/run.py` process. Before each run the CPU probe
of `tools/bench_protocol.py` (one single-core loop, then the same loop on 16
processes) is recorded. A run that exits non-zero, times out or prints no
result line is kept in the summary with its stderr tail and counted as
failed; it never aborts the summary. Per workload and metric the summary
gives the median, the quartiles and their spread (IQR ÷ median), the figure
the acceptance rule compares with each metric's bound. Figures from hosts
with different core counts (`cpus`) are never compared.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_TIMEOUT_S = 180


def _probe():
    spec = importlib.util.spec_from_file_location(
        "bench_protocol", ROOT / "tools" / "bench_protocol.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.probe


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired as e:
        err = e.stderr.decode() if isinstance(e.stderr, bytes) else (e.stderr or "")
        return {"ok": False, "why": f"timeout after {RUN_TIMEOUT_S}s", "stderr": err[-2000:]}
    rec = {"wall_s": time.perf_counter() - t0, "returncode": proc.returncode}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        detail = next((json.loads(ln[len("detail "):]) for ln in lines
                       if ln.startswith("detail ")), {})
    except (IndexError, json.JSONDecodeError):
        return {**rec, "ok": False, "why": "no result line", "stderr": proc.stderr[-2000:]}
    if proc.returncode != 0:
        return {**rec, "ok": False, "why": f"exit {proc.returncode}",
                "stderr": proc.stderr[-2000:]}
    return {**rec, "ok": result["correct"], "result": result, "detail": detail,
            **({} if result["correct"] else {"why": "incorrect output"})}


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=str(ROOT / ".perfbench" / "protocol.json"))
    args = ap.parse_args()

    probe = _probe()
    runs = []
    for workload in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            rec = {"workload": workload, "seed": seed, "probe": probe(),
                   **one_run(workload, seed, args.seconds, args.trace)}
            runs.append(rec)
            print(json.dumps({k: rec.get(k) for k in ("workload", "seed", "ok", "why",
                                                      "wall_s", "probe")}), flush=True)
    summary: dict = {}
    for workload in args.workloads.split(","):
        good = [r for r in runs if r["workload"] == workload and r["ok"]]
        metrics = {}
        for r in good:
            for name, m in r["result"]["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
        summary[workload] = {
            "runs": sum(r["workload"] == workload for r in runs),
            "failed_runs": sum(r["workload"] == workload and not r["ok"] for r in runs),
            "cpus": sorted({r["detail"].get("cpus") for r in good}),
            "metrics": {k: spread(v) for k, v in metrics.items()},
        }
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"summary": summary, "runs": runs}, indent=1))
    print(json.dumps(summary, indent=1))
    return 0 if all(s["failed_runs"] == 0 for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
