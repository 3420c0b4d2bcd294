"""Calls into the engine's layers. ``Plain`` makes the calls as a user
would; ``Traced`` makes the same calls inside spans, tags every Spark job
with the operation that issued it, and reads Catalyst's phase tracker,
the storage status and the event log."""

from __future__ import annotations

import contextlib
import json
import os
import time

from perfbench import common


class Plain:
    """Untraced calls."""

    def __init__(self) -> None:
        self.launch_s = 0.0

    def launch(self, get_spark, app: str, **conf: str):
        t0 = time.perf_counter()
        spark = get_spark(app, **self.session_conf(), **conf)
        self.launch_s = time.perf_counter() - t0
        return spark

    def session_conf(self) -> dict[str, str]:
        return {}

    def register_views(self, fn) -> None:
        fn()

    def begin_op(self, pass_no: int, name: str) -> None:
        pass

    def end_op(self) -> None:
        pass

    def query(self, build):
        return build().toPandas()

    def console(self, run, stmt: str):
        return run(stmt)

    def update(self, main, argv: list[str]) -> int:
        return main(argv)

    @contextlib.contextmanager
    def patched(self):
        yield


class Traced(Plain):
    GROUP = "perfbench"

    def __init__(self, cache: str) -> None:
        super().__init__()
        self.tracer = common.Tracer()
        self.event_dir = os.path.join(cache, "run", "eventlog")
        self.catalyst_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.storage_peak = 0
        self.storage_end = 0
        self.files_converted = 0
        self.compact_bytes = 0

    def session_conf(self) -> dict[str, str]:
        import shutil

        shutil.rmtree(self.event_dir, ignore_errors=True)
        os.makedirs(self.event_dir)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(self.event_dir),
            "spark.eventLog.compress": "false",
        }

    def launch(self, get_spark, app: str, **conf: str):
        idx = self.tracer.begin("session.get_spark")
        try:
            self._spark = super().launch(get_spark, app, **conf)
            return self._spark
        finally:
            self.tracer.finish(idx)

    def register_views(self, fn) -> None:
        self.tracer.wrap("catalog.register_views", fn)()

    def begin_op(self, pass_no: int, name: str) -> None:
        self.tracer.trace_id = f"{pass_no}/{name}"
        self._op = self.tracer.begin("op")

    def end_op(self) -> None:
        self.tracer.finish(self._op)
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        size = sum(i.memSize() + i.diskSize() for i in infos)
        self.storage_peak = max(self.storage_peak, size)
        self.storage_end = size

    def _set_group(self, phase: str) -> None:
        self._spark.sparkContext.setJobGroup(f"{self.GROUP}/{self.tracer.trace_id}/{phase}", phase)

    def query(self, build):
        self._set_group("build")
        df = self.tracer.wrap("queries.build", build)()
        self._set_group("fetch")
        out = self.tracer.wrap("exec.fetch", df.toPandas)()
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in self.catalyst_ms:
            if phases.contains(phase):
                self.catalyst_ms[phase] += phases.apply(phase).durationMs()
        return out

    def console(self, run, stmt: str):
        self._set_group("console")
        return self.tracer.wrap("webapp.service", run)(stmt)

    def update(self, main, argv: list[str]) -> int:
        self._set_group("update")
        return self.tracer.wrap("cli.update", main)(argv)

    @contextlib.contextmanager
    def patched(self):
        """Spans around the public functions each layer calls, installed
        from here so the engine's code is untouched."""
        from science_datalake_spark import pipeline, sanity, webapp
        from science_datalake_spark.sources.incremental import IncrementalJsonIngest

        hooks = self
        originals = [
            (webapp, "guard_sql", webapp.guard_sql),
            (pipeline, "compact", pipeline.compact),
            (pipeline, "write_parquet", pipeline.write_parquet),
            (sanity, "run_core", sanity.run_core),
            (IncrementalJsonIngest, "run", IncrementalJsonIngest.run),
        ]
        ingest_run = IncrementalJsonIngest.run
        compact = pipeline.compact
        write_parquet = pipeline.write_parquet

        def traced_ingest(self_, *a, **k):
            res = hooks.tracer.wrap("pipeline.ingest", ingest_run)(self_, *a, **k)
            hooks.files_converted += len(res.converted)
            return res

        def traced_compact(spark, path, *a, **k):
            hooks.compact_bytes += common.tree_bytes(path)
            return hooks.tracer.wrap("pipeline.compact", compact)(spark, path, *a, **k)

        def traced_write(df, path, *a, **k):
            span = "pipeline.unify" if "unified" in os.path.basename(path) else "pipeline.fulltext"
            return hooks.tracer.wrap(span, write_parquet)(df, path, *a, **k)

        webapp.guard_sql = self.tracer.wrap("cli.guard_sql", webapp.guard_sql)
        pipeline.compact = traced_compact
        pipeline.write_parquet = traced_write
        sanity.run_core = self.tracer.wrap("pipeline.sanity", sanity.run_core)
        IncrementalJsonIngest.run = traced_ingest
        try:
            yield
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    # -- after the run ----------------------------------------------------

    def metrics(self, window_s: float, cores: int, pipeline_ratio: float) -> dict[str, float]:
        spans = self.tracer.spans
        secs = lambda n: common.total_by_name(spans, n)  # noqa: E731
        ev = read_event_log(self.event_dir, self.GROUP)
        return {
            "session.launch_s": secs("session.get_spark"),
            "catalog.register_views_s": secs("catalog.register_views"),
            "queries.build_s": secs("queries.build"),
            "queries.build_jobs": ev["jobs_by_phase"].get("build", 0),
            "catalyst.analysis_ms": self.catalyst_ms["analysis"],
            "catalyst.optimization_ms": self.catalyst_ms["optimization"],
            "catalyst.planning_ms": self.catalyst_ms["planning"],
            "webapp.service_ms": 1e3 * secs("webapp.service"),
            "cli.guard_us": 1e6 * secs("cli.guard_sql"),
            "exec.fetch_s": secs("exec.fetch"),
            "exec.jobs": ev["jobs"],
            "exec.stages": ev["stages"],
            "exec.tasks": ev["tasks"],
            "exec.executor_run_s": ev["run_ms"] / 1e3,
            "exec.executor_cpu_s": ev["cpu_ns"] / 1e9,
            "exec.gc_s": ev["gc_ms"] / 1e3,
            "exec.shuffle_read_bytes": ev["shuffle_read"],
            "exec.shuffle_write_bytes": ev["shuffle_write"],
            "exec.spill_bytes": ev["spill"],
            "exec.core_busy_frac": ev["run_ms"] / 1e3 / (window_s * cores),
            "cache.storage_bytes_peak": self.storage_peak,
            "cache.storage_bytes_end": self.storage_end,
            "pipeline.ingest_s": secs("pipeline.ingest"),
            "pipeline.files_converted": self.files_converted,
            "pipeline.compact_s": secs("pipeline.compact"),
            "pipeline.compact_bytes_rewritten": self.compact_bytes,
            "pipeline.unify_s": secs("pipeline.unify"),
            "pipeline.fulltext_s": secs("pipeline.fulltext"),
            "pipeline.sanity_s": secs("pipeline.sanity"),
            "pipeline.jobs": ev["jobs_by_phase"].get("update", 0),
            "pipeline.stored_bytes_per_input_byte": pipeline_ratio,
        }


def read_event_log(event_dir: str, group_prefix: str) -> dict:
    """Totals over the jobs whose job group starts with ``group_prefix``:
    jobs, completed stages, finished tasks and the executors' task
    metrics. Jobs outside the timed sequence carry no such group."""
    jobs, stage_ids, by_phase = 0, set(), {}
    done_stages = set()
    tot = dict(tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, shuffle_read=0, shuffle_write=0, spill=0)
    task_events = []
    paths = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(event_dir)
        for f in files
        if not f.startswith((".", "appstatus"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(group_prefix + "/"):
                        jobs += 1
                        phase = group.rsplit("/", 1)[-1]
                        by_phase[phase] = by_phase.get(phase, 0) + 1
                        stage_ids.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerStageCompleted":
                    done_stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    task_events.append(ev)
    for ev in task_events:
        if ev.get("Stage ID") not in stage_ids:
            continue
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        tot["tasks"] += 1
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    tot["jobs"] = jobs
    tot["stages"] = len(stage_ids & done_stages)
    tot["jobs_by_phase"] = by_phase
    return tot
