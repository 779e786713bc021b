"""In-memory spans and Spark counters taken at layer boundaries.

The program is a black box: layer spans come from wrapping the public
functions of each module from here (`Tracer.install`), and Spark counts come
from Spark's status store, read after draining the listener bus, at the
same boundaries. Reading them launches no Spark job.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager
from pathlib import Path


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event to the store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_mark(spark) -> int:
    """Number of jobs the session has started so far (job ids are dense)."""
    drain(spark)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def exec_counts(spark, first_job: int, end_job: int) -> dict[str, float]:
    """Stage metrics of jobs [first_job, end_job) from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
         "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.input_bytes",
         "io.bytes_written"), 0.0)
    out["exec.jobs"] = float(end_job - first_job)
    skews: list[float] = []
    seen: set[int] = set()
    for job in range(first_job, end_job):
        try:
            stage_ids = store.job(job).stageIds()
        except Exception:  # noqa: BLE001 — job evicted from the store
            continue
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage, never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numTasks()
            out["exec.task_s"] += st.executorRunTime() / 1000.0
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["exec.input_bytes"] += st.inputBytes()
            out["io.bytes_written"] += st.outputBytes()
            if st.numTasks() >= 2:
                tasks = store.taskList(sid, st.attemptId(), st.numTasks())
                times = sorted(tasks.apply(k).duration().get()
                               for k in range(tasks.size())
                               if tasks.apply(k).duration().isDefined())
                if times and times[len(times) // 2] > 0:
                    skews.append(times[-1] / times[len(times) // 2])
    skews.sort()
    #: median over multi-task stages of (slowest task ÷ median task)
    out["exec.task_skew"] = skews[len(skews) // 2] if skews else 1.0
    return out


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of `df`'s query. A write plans its own copy of
    the query, so after the write this plans `df` once more, on the same
    plan, to read the phases from its tracker; planning runs no job."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[f"catalyst.{name}_ms"] = (
            float(p.get().endTimeMs() - p.get().startTimeMs()) if p.isDefined() else 0.0
        )
    return out


class Tracer:
    """Spans (name, start, end, parent, op) and counters, kept in memory."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.exec_by_op: dict[int, dict[str, float]] = {}
        self.op = 0

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        j0 = job_mark(self.spark)
        try:
            yield rec
        finally:
            j1 = job_mark(self.spark)
            rec["end"] = time.perf_counter()
            rec["jobs"] = j1 - j0
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counters.append({"name": name, "op": self.op, "value": value,
                              "parent": self._stack[-1] if self._stack else None})

    # -- layer wrappers ---------------------------------------------------- #

    def _wrap(self, owners: list[tuple[str, str]], span: str, after=None) -> None:
        """Wrap one function, re-binding it wherever a module imported it."""
        first = importlib.import_module(owners[0][0])
        orig = getattr(first, owners[0][1])
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(span):
                result = orig(*a, **kw)
            if after is not None:
                after(tracer, a, kw, result)
            return result

        for mod_name, attr in owners:
            owner = importlib.import_module(mod_name)
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, wrapped)

    def install(self) -> None:
        from datapipeline_spark.plans import dataset_build

        def after_artifacts(tr, a, kw, result):
            tr.count("plans.artifacts.skipped", sum(r.skipped for r in result.values()))

        def after_write(tr, a, kw, result):
            df, path = a[0], a[1]
            for k, v in catalyst_ms(df).items():
                tr.count(k, v)
            files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
            tr.count("io.files_written", len(files))

        def after_outputs(tr, a, kw, result):
            tr.count("dataset.columns", max(len(df.columns) for df in result.values()))

        self._wrap([("datapipeline_spark.plans.project", "load_project"),
                    ("datapipeline_spark.api", "load_project")], "plans.project.load")
        self._wrap([("datapipeline_spark.plans.compiler", "compile_project"),
                    ("datapipeline_spark.api", "compile_project")], "plans.compiler.compile")
        self._wrap([("datapipeline_spark.plans.dataset_build", "build_dataset"),
                    ("datapipeline_spark.api", "build_dataset")], "plans.dataset_build.build")
        self._wrap([("datapipeline_spark.plans.artifacts", "build_artifacts")],
                   "plans.artifacts.build", after_artifacts)
        self._wrap([("datapipeline_spark.io.writers", "write_parquet")], "io.write",
                   after_write)
        orig_outputs = dataset_build.DatasetBuild.outputs
        tracer = self

        def outputs(build_self):
            with tracer.span("plans.dataset_build.outputs"):
                result = orig_outputs(build_self)
            after_outputs(tracer, (), {}, result)
            return result

        self._patches.append((dataset_build.DatasetBuild, "outputs", orig_outputs))
        dataset_build.DatasetBuild.outputs = outputs

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reports ----------------------------------------------------------- #

    def self_times(self, op: int | None = None) -> dict[str, float]:
        """Self time per span name: duration minus the time of its children."""
        spans = [s for s in self.spans if op is None or s["op"] == op]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def jobs(self, name: str, op: int) -> int:
        """Jobs launched inside spans `name` of `op`, minus nested spans'."""
        by_id = {s["id"]: s for s in self.spans}
        total = 0
        for s in self.spans:
            if s["op"] != op:
                continue
            if s["name"] == name:
                total += s["jobs"]
            elif s["parent"] is not None and by_id[s["parent"]]["name"] == name:
                total -= s["jobs"]
        return total

    def counter_sum(self, name: str, op: int) -> float:
        return sum(c["value"] for c in self.counters if c["name"] == name and c["op"] == op)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "counters": self.counters,
                                    "self_s": self.self_times()}, indent=1))
