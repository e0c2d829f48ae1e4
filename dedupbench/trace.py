"""Traced-run tooling: stage spans from wrappers around the program's
public stage entry points, and Spark job metrics read back from the
status store by job tag.

`Tracer.install()` replaces `PipelineRunner.run_stage`,
`PipelineRunner.skip_stage` and the pipeline's `input_fingerprint` with
wrappers that open a span and set the Spark job tag `stage:<name>` on
the calling thread for the length of the call.  Job tags are thread-scoped,
so the pipeline's stage thread pool keeps them apart.  `uninstall()`
restores the originals.  Spans stay in memory until `dump()`.

The status store is read through `SparkContext.statusStore()`, which
works with the UI disabled: jobs (tags, stage ids, times), then the
last attempt of each stage (executor run and CPU time, shuffle write
bytes, spill, tasks).
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from pathlib import Path

from py4j.protocol import Py4JJavaError

from stats import aggregate_jobs, self_time, stage_tag

TAG_PREFIX = "stage:"


def _seq(scala_seq) -> list[str]:
    s = scala_seq.mkString("\u0001")
    return [x for x in s.split("\u0001") if x] if s else []


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) / 1000.0 if opt.isDefined() else None


def read_jobs(spark, after_job_id: int = -1) -> tuple[list[dict], dict[int, dict]]:
    """Jobs with id > after_job_id and their stages, from the status
    store.  Times are epoch seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs, stages = [], {}
    for jd in _iter(store.jobsList(None)):
        jid = int(jd.jobId())
        if jid <= after_job_id:
            continue
        sids = [int(x) for x in _seq(jd.stageIds())]
        jobs.append({
            "job_id": jid,
            "tags": _seq(jd.jobTags()),
            "stage_ids": sids,
            "start": _opt_ms(jd.submissionTime()),
            "end": _opt_ms(jd.completionTime()),
        })
        for sid in sids:
            if sid in stages:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # no attempt: the stage was skipped
                continue
            stages[sid] = {
                "exec_s": sd.executorRunTime() / 1e3,
                "jvm_cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                "spill_mb": sd.diskBytesSpilled() / 1e6,
                "tasks": float(sd.numTasks()),
            }
    return jobs, stages


def last_job_id(spark) -> int:
    ids = [int(j.jobId()) for j in
           _iter(spark.sparkContext._jsc.sc().statusStore().jobsList(None))]
    return max(ids, default=-1)


class Tracer:
    """Spans in the shape run -> stage -> Spark job, sharing a run id."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._orig: dict = {}
        # seconds spent inside the wrappers (tagging and span bookkeeping)
        self.wrapper_s = 0.0

    def span(self, name: str, kind: str, start: float, end: float,
             parent: str | None, span_id: str | None = None, **attrs) -> dict:
        s = {"run_id": self.run_id, "id": span_id or uuid.uuid4().hex[:12],
             "name": name,
             "kind": kind, "start": start, "end": end, "parent": parent, **attrs}
        with self._lock:
            self.spans.append(s)
        return s

    def _tagged(self, name: str, fn, *args, **kwargs):
        # a SparkContext job tag, not a session tag: session tags reach
        # only SQL executions, and would miss the jobs Spark runs outside
        # one (parquet schema inference when a stage reads its checkpoint)
        tag = f"{TAG_PREFIX}{name}"
        sc = self.spark.sparkContext
        w0 = time.perf_counter()
        sc.addJobTag(tag)
        t0 = time.time()
        w1 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            w2 = time.perf_counter()
            sc.removeJobTag(tag)
            self.span(name, "stage", t0, t1, self.current_run)
            with self._lock:
                self.wrapper_s += (w1 - w0) + (time.perf_counter() - w2)

    def install(self) -> None:
        from app_dupfind_spark.operators import dedup_pipeline
        from app_dupfind_spark.plans.pipeline import PipelineRunner

        tracer = self
        run_stage, skip_stage = PipelineRunner.run_stage, PipelineRunner.skip_stage
        fingerprint = dedup_pipeline.input_fingerprint
        self._orig = {"run_stage": run_stage, "skip_stage": skip_stage,
                      "fingerprint": fingerprint}

        def traced_run_stage(runner, name, *a, **kw):
            return tracer._tagged(name, run_stage, runner, name, *a, **kw)

        def traced_skip_stage(runner, name, *a, **kw):
            return tracer._tagged(name, skip_stage, runner, name, *a, **kw)

        def traced_fingerprint(*a, **kw):
            return tracer._tagged("fingerprint", fingerprint, *a, **kw)

        PipelineRunner.run_stage = traced_run_stage
        PipelineRunner.skip_stage = traced_skip_stage
        dedup_pipeline.input_fingerprint = traced_fingerprint
        self.current_run = None

    def uninstall(self) -> None:
        from app_dupfind_spark.operators import dedup_pipeline
        from app_dupfind_spark.plans.pipeline import PipelineRunner

        if self._orig:
            PipelineRunner.run_stage = self._orig["run_stage"]
            PipelineRunner.skip_stage = self._orig["skip_stage"]
            dedup_pipeline.input_fingerprint = self._orig["fingerprint"]
            self._orig = {}

    def begin(self, name: str) -> None:
        self._run_start = time.time()
        self._run_name = name
        self._first_job = last_job_id(self.spark)
        self.current_run = uuid.uuid4().hex[:12]

    def end(self) -> dict:
        """Close the run span; attach the run's Spark jobs as spans under
        their stage span and return the per-tag aggregate."""
        t1 = time.time()
        run = self.span(self._run_name, "run", self._run_start, t1, None,
                        span_id=self.current_run)
        jobs, stages = read_jobs(self.spark, self._first_job)
        agg = aggregate_jobs(jobs, stages, TAG_PREFIX)
        stage_spans = {s["name"]: s for s in self.spans
                       if s["parent"] == run["id"] and s["kind"] == "stage"}
        for j in jobs:
            tag = stage_tag(j["tags"], TAG_PREFIX)
            parent = stage_spans[tag]["id"] if tag in stage_spans else run["id"]
            self.span(f"job {j['job_id']}", "job", j["start"] or t1,
                      j["end"] or t1, parent, stage=tag)
        for name, s in stage_spans.items():
            kids = [(c["start"], c["end"]) for c in self.spans
                    if c["parent"] == s["id"] and c["kind"] == "job"]
            s["self_s"] = self_time((s["start"], s["end"]), kids)
        self.current_run = None
        return {"run": run, "stages": stage_spans, "agg": agg, "jobs": jobs}

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans},
                                   indent=1))
