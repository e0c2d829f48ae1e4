"""The traced run: per-layer metrics of one workload.

A traced run makes the timed run's pipeline run with tracing on, first
in its JVM like the timed one, then its resume.  The per-stage metrics
come from the fresh run, and `pipeline.resume_s` and
`pipeline.resumed_stages` from the resume.  The tracing overhead is
`trace.pipeline_s` minus the untraced runs' `pipeline_s` on the same
workload; `trace.wrapper_s` is the part spent in the wrappers
themselves.  Reading the status store happens after the run span and
costs the run nothing.

crawl_dupheavy's traced run also replays the stream_replay corpus of its
seed (6 files, one per trigger) through `run_near_dup_file_stream`
and reads `StreamingQuery.recentProgress` for the streaming layer.  Every
workload reports every per-layer metric; a layer the workload does not
run reports zero work.  Spans are written to
.dedupbench_out/trace-<workload>-s<seed>.json in the checkout.
"""

from __future__ import annotations

import statistics
import time

import gen
import stats
from trace import Tracer
from workload import CORES

STAGES = ("canon", "exact", "sigs", "cands", "span_cand", "verify", "spans",
          "cc", "clusters")
STAGE_METRICS = (("wall_s", "s"), ("self_s", "s"), ("exec_s", "s"),
                 ("jvm_cpu_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("jobs", "count"), ("rows_out", "rows"))
KERNEL_BATCH = 1024
KERNEL_BATCHES = 3

STREAM_METRICS = (
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("streaming.batch_tail_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.state_commit_s", "s"), ("streaming.state_rows", "rows"),
    ("streaming.state_mb", "MB"), ("streaming.state_rows_removed", "rows"),
    ("streaming.evicted_fps", "count"), ("streaming.pair_recall", "ratio"),
)
# the batch workload whose traced run also replays the stream corpus
# (its own corpus, pages shaped like crawl_near's): crawl_dupheavy's,
# the shorter one; with it crawl_near's traced run took 120 s of the
# 180 s a run may take
STREAM_LAYER_WORKLOAD = "crawl_dupheavy"


def stage_metrics(res: dict, runner) -> dict:
    rows = {m["stage"]: m["rows_out"] for m in runner.metrics}
    out = {}
    for st in STAGES:
        agg = res["agg"].get(st, {})
        span = res["stages"].get(st)
        vals = {
            "wall_s": span["end"] - span["start"] if span else 0.0,
            "self_s": span["self_s"] if span else 0.0,
            "jobs": float(agg.get("jobs", 0)),
            "rows_out": float(rows.get(st, 0)),
            **{f: agg.get(f, 0.0) for f in ("exec_s", "jvm_cpu_s",
                                             "shuffle_write_mb", "spill_mb")},
        }
        for name, unit in STAGE_METRICS:
            out[f"{st}.{name}"] = (vals[name], unit)
    return out


def _du_mb(path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 1e6


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def kernel_metrics(bench) -> dict:
    """ms per 1000 docs of the MinHash and SimHash UDF bodies, called in
    this process on KERNEL_BATCH-doc batches of this workload's 5-shingle
    hash arrays, after one untimed call."""
    import pandas as pd
    from pyspark.sql import functions as F

    from app_dupfind_spark.functions.hashing import make_minhash_udf, make_simhash_udf
    from app_dupfind_spark.functions.text import token_hashes, window_hashes

    pages = bench.spark.read.parquet(str(bench.data / "pages"))
    sh = (pages.select("url", token_hashes(F.col("text")).alias("__th"))
          .select("url", window_hashes(F.col("__th"), bench.cfg.shingle_k).alias("sh"))
          .orderBy("url").limit(KERNEL_BATCH * KERNEL_BATCHES).toPandas()["sh"])
    batches = [pd.Series(list(sh[i:i + KERNEL_BATCH]))
               for i in range(0, len(sh), KERNEL_BATCH)]
    out = {}
    for name, factory in (("minhash", make_minhash_udf), ("simhash", make_simhash_udf)):
        fn = factory(bench.cfg).func
        fn(batches[0])
        per_kdoc = []
        for b in batches:
            t0 = time.perf_counter()
            fn(b)
            per_kdoc.append((time.perf_counter() - t0) * 1e3 * 1000 / len(b))
        out[f"hashing.{name}_ms_per_kdoc"] = (statistics.median(per_kdoc), "ms")
    return out


def _batch(bench) -> dict:
    w = bench.work
    tracer = Tracer(bench.spark)
    tracer.install()
    try:
        tracer.begin("pipeline")
        t_s, runner, (started, sink_start) = bench.pipeline_once(w / "t", w / "to")
        res = tracer.end()
        ok, counts, h = bench.check_fresh(w / "to")
        bench.attempted += 1
        bench.failed += not ok
        ck_mb = _du_mb(w / "t")
        tracer.begin("resume")
        resume_s, rrunner, _ = bench.resume_once(w / "t", w / "tro")
        tracer.end()
        resumed = sum(1 for m in rrunner.metrics if m.get("resumed"))
        ok = bench.check_resume(rrunner, w / "tro", h)
        bench.attempted += 1
        bench.failed += not ok
    finally:
        tracer.uninstall()

    # inside the pipeline call every job belongs to a stage; only the
    # caller's input read before it and final sink after it are untagged
    stray = [j["job_id"] for j in res["jobs"]
             if stats.stage_tag(j["tags"]) is None
             and started <= (j["start"] or 0) < sink_start]
    if stray:
        bench.notes.append(f"untagged jobs before the sink: {stray}")
        bench.failed += 1
    tracer.dump(bench.out / f"trace-{bench.workload}-s{bench.seed}.json")

    m = stage_metrics(res, runner)
    rows = {k.split(".")[0]: v for k, (v, _) in m.items() if k.endswith(".rows_out")}
    ctr = runner.counters.get("exact", {})
    total_exec = sum(a["exec_s"] for a in res["agg"].values())
    fp = res["stages"].get("fingerprint")
    m.update({
        "pipeline.fingerprint_s": (fp["end"] - fp["start"] if fp else 0.0, "s"),
        "pipeline.checkpoint_mb": (ck_mb, "MB"),
        "pipeline.exec_share": (total_exec / (CORES * t_s), "ratio"),
        "pipeline.untagged_exec_s": (res["agg"].get(None, {}).get("exec_s", 0.0), "s"),
        "pipeline.resume_s": (resume_s, "s"),
        "pipeline.resumed_stages": (float(resumed), "count"),
        "exact.survivor_share": (_ratio(ctr.get("digest_members", 0),
                                        ctr.get("scan_members", 0)), "ratio"),
        "verify.pass_ratio": (_ratio(rows["verify"], rows["cands"]), "ratio"),
        "spans.pass_ratio": (_ratio(rows["spans"], rows["span_cand"]), "ratio"),
        "cc.exec_per_job_s": (_ratio(m["cc.exec_s"][0], m["cc.jobs"][0]), "s"),
        "trace.pipeline_s": (t_s, "s"),
        "trace.wrapper_s": (tracer.wrapper_s, "s"),
        "check.false_pairs": (float(counts["false_pairs"]), "count"),
    })
    # zero work unless _stream_layers replaces them
    m.update({name: (0.0, unit) for name, unit in STREAM_METRICS})
    return m


def stream_metrics(progress: list[dict], sink, counts: dict) -> dict:
    data = [p for p in progress if p.get("numInputRows")]
    dur = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data]
    # the highest percentile with ten batches beyond it; the slowest
    # batch when the replay is too short for one
    tail = stats.tail_percentile(len(dur))

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) / 1e3 for p in data)

    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "streaming.batches": (float(len(data)), "count"),
        "streaming.batch_p50_s": (stats.percentile(dur, 50), "s"),
        "streaming.batch_tail_s": (stats.percentile(dur, tail) if tail else max(dur),
                                   "s"),
        "streaming.add_batch_s": (med("addBatch"), "s"),
        "streaming.query_planning_s": (med("queryPlanning"), "s"),
        "streaming.wal_commit_s": (med("walCommit"), "s"),
        "streaming.state_commit_s": (
            statistics.median(o.get("commitTimeMs", 0) / 1e3 for o in ops), "s"),
        "streaming.state_rows": (float(max(o.get("numRowsTotal", 0) for o in ops)),
                                 "rows"),
        "streaming.state_mb": (max(o.get("memoryUsedBytes", 0) for o in ops) / 1e6,
                               "MB"),
        "streaming.state_rows_removed": (
            float(sum(o.get("numRowsRemoved", 0) for o in ops)), "rows"),
        "streaming.evicted_fps": (
            float(sink["evicted_fps"].max()) if len(sink) else 0.0, "count"),
        "streaming.pair_recall": (counts["pair_recall"], "ratio"),
    }


def _stream_layers(bench) -> dict:
    """The streaming layer measured from a batch workload's traced run:
    a replay of the same seed's stream_replay corpus."""
    data, truth = bench.data, bench.truth
    bench.data, _ = gen.ensure(gen.STREAM_CORPUS, bench.seed, bench.cache)
    bench.truth = bench._truth()
    try:
        progress, sink, counts = bench.stream_replay()
    finally:
        bench.data, bench.truth = data, truth
    return stream_metrics(progress, sink, counts)


def run(bench) -> dict:
    m = _batch(bench)
    if bench.workload == STREAM_LAYER_WORKLOAD:
        m.update(_stream_layers(bench))
    m.update(kernel_metrics(bench))
    return dict(sorted(m.items()))
