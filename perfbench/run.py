#!/usr/bin/env python3
"""Benchmark for datapipeline_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is imported from the
checkout (`datapipeline_spark/`); inputs are generated from the seed under
`.perfbench/work/` and removed afterwards. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. The line before it (`detail`) carries the workload-specific
figures, sample counts, versions and the output digest. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import mix  # noqa: E402

#: Workload sizes. `serve`: 8 partitions × one week of hourly ticks.
SERVE = gen.ProjectShape(partitions=8, ticks=168)
#: `query_mix`: line items of the generated TPC-H-like tables.
MIX_LINEITEMS = 12_000
WORKLOADS = ("serve", "query_mix")
WARM_PASSES = 2
PROGRAM = ("datapipeline_spark/__init__.py", "__spark_entry__.py",
           "tools/check_correctness.py")


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by `root_pid`, its live
    descendants and this process. Unlike wall time it does not count time
    spent waiting for a busy host's cores."""
    parent, used = {}, {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        pid = int(stat.parent.name)
        parent[pid] = int(fields[1])
        used[pid] = int(fields[11]) + int(fields[12])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    ticks = sum(used.get(pid, 0) for pid in tree | {os.getpid()})
    return ticks / os.sysconf("SC_CLK_TCK")


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _digest(paths: dict[tuple[str, str], str]) -> tuple[str, dict, set]:
    """Canonical content digest of the served parquet outputs, plus rows per
    output and the column set. Floats are compared at 10 significant digits,
    rows in time order, columns by name."""
    import pyarrow.parquet as pq

    h = hashlib.sha256()
    rows: dict[tuple[str, str], int] = {}
    cols: set[str] = set()
    for key in sorted(paths):
        t = pq.read_table(paths[key])
        names = sorted(t.column_names)
        cols |= set(names)
        t = t.select(names).sort_by("time")
        rows[key] = t.num_rows
        h.update(repr(key).encode())
        for name in names:
            col = t.column(name).to_pylist()
            if name == "time":
                vals = [v.isoformat() for v in col]
            else:
                vals = ["None" if v is None else f"{v:.10g}" for v in col]
            h.update(name.encode())
            h.update("|".join(vals).encode())
    return h.hexdigest()[:16], rows, cols


class Run:
    """Operation and check counts, errors and the figures a run reports."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.per_layer: dict[str, float] = {}

    def op(self, name: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, name: str, ok: bool, why: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {why}")


# --------------------------------------------------------------------------- #
# the measured loop, shared by both workloads
# --------------------------------------------------------------------------- #


def measure(spark, seconds: float, tracer, do_pass, wrap_layers: bool) -> list[dict]:
    """Pass 0 is the cold pass; warm passes follow until `seconds` of warm
    time have elapsed, at least `WARM_PASSES` of them, because one warm
    sample per run is not steady on a host whose speed drifts. With a
    tracer, even passes are traced and odd ones are not, so both kinds run
    warm in the same session: their times give the tracing overhead and
    their job counts must agree."""
    from spans import exec_counts, job_mark

    passes: list[dict] = []
    minimum = 1 + WARM_PASSES
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    t_warm = None
    while True:
        i = len(passes)
        traced = tracer is not None and i % 2 == 0
        j0 = job_mark(spark) if tracer is not None else 0
        cpu0 = tree_cpu_s(jvm_pid)
        if traced:
            tracer.op = i
            if wrap_layers:
                tracer.install()
        try:
            p = do_pass(i, traced)
        finally:
            if traced and wrap_layers:
                tracer.uninstall()
        if p is None:
            break
        p["cpu_s"] = tree_cpu_s(jvm_pid) - cpu0
        p["traced"] = traced
        if tracer is not None:
            j1 = job_mark(spark)
            p["jobs"] = j1 - j0
            if traced:
                tracer.exec_by_op[i] = exec_counts(spark, j0, j1)
        passes.append(p)
        if i == 0:
            t_warm = time.perf_counter()
        if len(passes) >= minimum and time.perf_counter() - t_warm >= seconds:
            break
    return passes


def warm_untraced(passes: list[dict]) -> list[dict]:
    return [p for p in passes[1:] if not p["traced"]]


def common_layers(tracer, passes: list[dict], keys) -> dict[str, float]:
    """Median over traced warm passes of the per-pass layer figures, plus the
    tracing overhead (traced ÷ untraced warm pass time)."""
    traced = [i for i, p in enumerate(passes) if p["traced"] and i > 0]
    per_op = []
    for i in traced:
        st = tracer.self_times(i)
        m = keys(tracer, st, i, passes[i])
        for k in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"):
            m[k] = tracer.counter_sum(k, i)
        m.update(tracer.exec_by_op.get(i, {}))
        per_op.append(m)
    out = {k: _median([m[k] for m in per_op]) for k in per_op[0]}
    out["trace.overhead_ratio"] = (
        _median([passes[i]["pass_s"] for i in traced])
        / _median([p["pass_s"] for p in warm_untraced(passes)])
    )
    return out


# --------------------------------------------------------------------------- #
# serve
# --------------------------------------------------------------------------- #


def run_serve(run: Run, spark, work: Path, seed: int, seconds: float, tracer) -> dict:
    from datapipeline_spark import api
    from spans import job_mark

    shape = SERVE
    project = work / "project"
    records = gen.write_project(project, shape, seed)
    run.detail["sizes"] = {"partitions": shape.partitions, "ticks": shape.ticks,
                           "raw_records": records,
                           "output_columns": len(shape.expected_columns())}

    def do_pass(i: int, traced: bool) -> dict | None:
        """One `api.serve`. In a traced run every warm pass then also takes
        every train batch of `api.iter_model_batches` (default
        strict_finite=True), for the `api` layer."""
        j_start = job_mark(spark) if tracer is not None else 0
        t0 = time.perf_counter()
        out = run.op("serve", api.serve, spark, project, run_id=f"r{i}")
        t1 = time.perf_counter()
        if out is None:
            return None
        if i == 0 or tracer is None:
            return {"paths": out, "pass_s": t1 - t0}
        serve_jobs = job_mark(spark) - j_start

        def consume():
            first, rows, cols = None, 0, 0
            cpu0 = time.process_time()
            for b in api.iter_model_batches(spark, project, fold="f0", role="train"):
                if first is None:
                    first = time.perf_counter() - t1
                rows += b.features.shape[0]
                cols = b.features.shape[1]
            return first, rows, cols, time.process_time() - cpu0

        got = run.op("iter_model_batches", consume)
        t2 = time.perf_counter()
        if got is None:
            return None
        first, rows, cols, cpu = got
        return {"paths": out, "pass_s": t2 - t0, "serve_s": t1 - t0, "batches_s": t2 - t1,
                "first_batch_s": first, "rows": rows, "cols": cols, "api_cpu_s": cpu,
                "serve_jobs": serve_jobs}

    passes = measure(spark, seconds, tracer, do_pass, wrap_layers=True)

    # correctness, outside the timed region
    expected_rows, expected_cols = shape.expected_rows(), shape.expected_columns()
    n_features = len(gen.PARTITIONED_FEATURES) * shape.partitions
    digests = set()
    for k, p in enumerate(passes):
        digest, rows, cols = _digest(p["paths"])
        digests.add(digest)
        run.check(f"rows[{k}]", rows == expected_rows, f"{rows} != {expected_rows}")
        run.check(f"columns[{k}]", cols == expected_cols,
                  f"{len(cols)} columns, expected {len(expected_cols)}")
        if "rows" in p:
            run.check(f"batch_rows[{k}]", p["rows"] == expected_rows[("f0", "train")],
                      f"{p['rows']} batch rows")
            run.check(f"batch_cols[{k}]", p["cols"] == n_features,
                      f"{p['cols']} batch columns")
    run.check("digest", len(digests) == 1, f"digests differ across passes: {digests}")
    run.detail["digest"] = sorted(digests)
    if len(passes) < 2:
        return {}

    warm = warm_untraced(passes)
    run.detail["warm_samples"] = len(warm)
    if tracer is not None:
        run.detail.update({
            "serve_s": _median([p["serve_s"] for p in warm]),
            "first_batch_s": _median([p["first_batch_s"] for p in warm]),
            "batch_rows_per_s": _median([p["rows"] / p["batches_s"] for p in warm]),
        })
        def keys(tr, st, i, p):
            return {
                "plans.project.load_s": st.get("plans.project.load", 0.0),
                "plans.compiler.compile_s": st.get("plans.compiler.compile", 0.0),
                "plans.compiler.jobs": float(tr.jobs("plans.compiler.compile", i)),
                "plans.dataset_build.build_s": st.get("plans.dataset_build.build", 0.0),
                "plans.dataset_build.build_jobs": float(tr.jobs("plans.dataset_build.build", i)),
                "plans.dataset_build.outputs_s": st.get("plans.dataset_build.outputs", 0.0),
                "plans.dataset_build.outputs_jobs":
                    float(tr.jobs("plans.dataset_build.outputs", i)),
                "plans.artifacts.skipped": tr.counter_sum("plans.artifacts.skipped", i),
                "dataset.columns": max((c["value"] for c in tr.counters if c["op"] == i
                                        and c["name"] == "dataset.columns"), default=0.0),
                "io.write_s": st.get("io.write", 0.0),
                "io.files_written": tr.counter_sum("io.files_written", i),
                "api.first_row_wait_s": p["first_batch_s"],
                "api.driver_cpu_s": p["api_cpu_s"],
                "api.rows": float(p["rows"]),
            }

        run.per_layer.update(common_layers(tracer, passes, keys))
        run.per_layer["plans.artifacts.build_s"] = (
            tracer.self_times(0).get("plans.artifacts.build", 0.0))
        # the serve's jobs alone: toLocalIterator runs one job per
        # AQE-coalesced partition, a count that varies from pass to pass
        run.detail["jobs_per_pass"] = [(p.get("serve_jobs", 0), p["traced"]) for p in passes]
    return {"cold_s": passes[0]["pass_s"], "warm_s": _median([p["pass_s"] for p in warm]),
            "warm_cpu_s": _median([p["cpu_s"] for p in warm])}


# --------------------------------------------------------------------------- #
# query_mix
# --------------------------------------------------------------------------- #


def run_mix(run: Run, spark, work: Path, seed: int, seconds: float, tracer) -> dict:
    import __spark_entry__ as entry
    from spans import catalyst_ms

    tables = work / "tables"
    run.detail["sizes"] = {"tables": gen.write_tables(tables, MIX_LINEITEMS, seed),
                           "queries": len(mix.NAMES)}
    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = str(tables)
    os.environ[mix.HASH_ENV] = "fast"  # production hashes, as bench.py runs them

    collected: dict = {}

    def one(name: str, traced: bool, cold: bool) -> float:
        """Construction + `noop` write, timed as bench.py times a query; the
        cold pass collects the result for the oracle check instead."""
        t0 = time.perf_counter()
        with tracer.span("registry.construct") if traced else nullcontext():
            df = queries[name](spark, sf_dir)
        with tracer.span("registry.execute") if traced else nullcontext():
            if cold:
                collected[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        if traced:
            for k, v in catalyst_ms(df).items():
                tracer.count(k, v)
        return time.perf_counter() - t0

    def do_pass(i: int, traced: bool) -> dict:
        t0 = time.perf_counter()
        lat = {}
        for name in mix.pass_order(seed, i):
            v = run.op(name, one, name, traced, i == 0)
            if v is not None:
                lat[name] = v
        return {"pass_s": time.perf_counter() - t0, "lat": lat}

    passes = measure(spark, seconds, tracer, do_pass, wrap_layers=False)

    # correctness, outside the timed region
    bad = mix.check_against_oracle(spark, queries, oracles, sf_dir, ROOT, collected)
    for name in mix.NAMES:
        run.check(f"oracle {name}", name not in bad, bad.get(name, ""))

    warm = warm_untraced(passes)
    lats = sorted(v for p in warm for v in p["lat"].values())
    run.detail.update({
        "mix_s": _median([p["pass_s"] for p in warm]),
        "query_p50_s": _median(lats),
        "query_p90_s": statistics.quantiles(lats, n=10)[8],
        "query_samples": len(lats),
        "warm_samples": len(warm),
    })
    if tracer is not None:
        def keys(tr, st, i, p):
            return {"registry.construct_s": st.get("registry.construct", 0.0),
                    "registry.construct_jobs": float(tr.jobs("registry.construct", i))}

        run.per_layer.update(common_layers(tracer, passes, keys))
        run.detail["jobs_per_pass"] = [(p["jobs"], p["traced"]) for p in passes]
    return {"cold_s": passes[0]["pass_s"], "warm_s": run.detail["mix_s"],
            "warm_cpu_s": _median([p["cpu_s"] for p in warm])}


# --------------------------------------------------------------------------- #
# main
# --------------------------------------------------------------------------- #


def _env(work: Path) -> None:
    """Single-process Spark on every core; all temporary files inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(work / sub)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it: it exits when its stdin
    closes (PythonGatewayServer reads stdin until EOF)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"program not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    config = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in config["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in config["end_to_end"] + config["per_layer"]}

    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    run = Run()
    spark = None
    try:
        t0 = time.perf_counter()
        from datapipeline_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        spark.range(1).count()
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            run.per_layer["session.get_spark_s"] = get_spark_s
        body = run_serve if args.workload == "serve" else run_mix
        e2e = body(run, spark, work, args.seed, args.seconds, tracer)
        jvm = spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        run.detail["spark"] = spark.version
        run.detail["java"] = jvm.java.lang.System.getProperty("java.version")
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        if tracer is not None:
            tracer.dump(ROOT / ".perfbench" / "traces"
                        / f"{args.workload}-seed{args.seed}.json")
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    run.detail.update({
        "workload": args.workload, "seed": args.seed, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "python": platform.python_version(),
        "error_rate": run.failed / max(run.attempted, 1),
        "errors": run.errors[:20],
        **e2e,
    })
    print("detail " + json.dumps(run.detail, default=str), flush=True)
    values = run.per_layer if args.trace else e2e
    absent = [n for n in names if n not in values]
    if args.trace:  # layers a workload does not exercise read 0
        values = {n: values.get(n, 0.0) for n in names}
    elif absent:
        print(f"no samples for {absent}: {run.errors[:5]}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
