"""One benchmark run's state: the session, the pipeline cycle and the
checks of its outputs against the generated ground truth."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import time
from pathlib import Path

import gen
import stats

ROOT = Path(__file__).resolve().parent.parent
CORES = 4
# the driver heap, set through get_spark's own SPARK_GRAFT_DRIVER_MEM
# knob: its 8 GB default leaves a 3-5 GB resident JVM whose high-water
# mark follows GC timing (peak_rss_mb spread 0.13-0.20 over ten seeds,
# against 0.06 at 1 GB); the inputs are tens of MB
JVM_HEAP = "1g"
RECALL_MIN = 0.99
RESUME_DROP = ("verify", "spans", "cc", "clusters")
RESUMED_EXPECTED = 5


def _rss_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    """One run of one workload and seed; counts attempted and failed
    operations as it goes."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = ROOT / ".dedupbench_work" / f"{workload}-s{seed}-{os.getpid()}"
        self.cache = ROOT / ".dedupbench_cache"
        self.out = ROOT / ".dedupbench_out"
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark = None
        self.cfg = None

    # ---- session ------------------------------------------------------

    def _env(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        # everything Spark, its JVMs and the Python workers write stays
        # in the checkout: no /tmp temp files, no JVM perf-data files
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        # get_spark's default of 32 shuffle partitions, as DedupConfig's
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        import tempfile

        tempfile.tempdir = str(tmp)

    def setup(self) -> float:
        """Fresh JVM to warmed session: Spark start plus one job that
        spawns a Python worker per core and loads the Arrow path.  The
        session is the one jobs/run_pipeline.py builds (get_spark's
        defaults) with the core count pinned and a 1 GB heap."""
        from app_dupfind_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="dedupbench", master=f"local[{CORES}]")

        def touch(batches):
            # held long enough that every core's task runs at once
            time.sleep(0.2)
            yield from batches

        spark.range(0, CORES, 1, CORES).mapInPandas(touch, "id long").collect()
        self.spark = spark
        return time.perf_counter() - t0

    def teardown(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _rss_mb(jvm_pid) + _rss_mb("self")

    # ---- batch workloads ------------------------------------------------

    def _truth(self):
        import pandas as pd

        return pd.read_parquet(self.data / "truth.parquet")

    def _read_clusters(self, path: Path):
        import pandas as pd

        df = pd.read_parquet(path, columns=["url", "cluster_id"])
        return df.rename(columns={"cluster_id": "cluster"})

    def pipeline_once(self, ck: Path, out: Path):
        """One near_dup_pipeline call as jobs/run_pipeline.py makes it,
        clusters written as parquet.  Returns (seconds, runner, epoch
        times at which the pipeline call and the final sink started)."""
        from app_dupfind_spark.operators.dedup_pipeline import near_dup_pipeline

        t0 = time.perf_counter()
        pages = self.spark.read.parquet(str(self.data / "pages"))
        started = time.time()
        clusters, runner = near_dup_pipeline(self.spark, pages, self.cfg, str(ck))
        sink_start = time.time()
        clusters.write.mode("overwrite").parquet(str(out))
        return time.perf_counter() - t0, runner, (started, sink_start)

    def check_fresh(self, out: Path) -> tuple[bool, dict, str]:
        pred = self._read_clusters(out)
        c = stats.pair_counts(self.truth, pred)
        ok = (len(pred) == len(self.truth) and c["pair_recall"] >= RECALL_MIN
              and c["false_pairs"] == 0)
        if not ok:
            self.notes.append(f"fresh run check failed: rows={len(pred)} {c}")
        return ok, c, stats.partition_hash(pred)

    def resume_once(self, ck: Path, out: Path):
        for name in RESUME_DROP:
            (ck / name / "_manifest.json").unlink(missing_ok=True)
        return self.pipeline_once(ck, out)

    def check_resume(self, runner, out: Path, fresh_hash: str) -> bool:
        resumed = sum(1 for m in runner.metrics if m.get("resumed"))
        same = stats.partition_hash(self._read_clusters(out)) == fresh_hash
        if resumed != RESUMED_EXPECTED or not same:
            self.notes.append(f"resume check failed: resumed={resumed} "
                              f"same_output={same}")
            return False
        return True

    def timed(self) -> dict:
        """A fresh pipeline run, checked.  Its resume is run, checked and
        timed in the traced run only: with it a run took 56-85 s on a
        4-vCPU shared host, and one resume per run spread past the 0.25
        bound across seeds."""
        ck, out = self.work / "ck", self.work / "out"
        pipeline_s, _, _ = self.pipeline_once(ck, out)
        ok, counts, _ = self.check_fresh(out)
        self.attempted += 1
        self.failed += not ok
        return {
            "pipeline_s": (pipeline_s, "s"),
            "pair_recall": (counts["pair_recall"], "ratio"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    # ---- stream replay (crawl_dupheavy's traced run) ---------------------

    def stream_once(self, ck: Path, out: Path):
        from app_dupfind_spark.streaming.stream_near_dup import (
            run_near_dup_file_stream,
        )

        # one state partition per core for the query, not get_spark's
        # default shuffle partitions: with its 32, every micro-batch
        # runs 32 Python state tasks and 32 state-store commits (8-12 s
        # a batch on 4 cores), too long for a run's 180 s limit
        prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(CORES))
        try:
            q = run_near_dup_file_stream(self.spark, str(self.data / "pages"),
                                         str(out), str(ck))
            q.awaitTermination()
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return [json.loads(p.json) for p in q.recentProgress]

    def _sink(self, out: Path):
        import pandas as pd

        parts = []
        for d in sorted(out.glob("batch_id=*")):
            files = list(d.glob("*.parquet"))
            if files:
                p = pd.read_parquet(d)
                p["batch_id"] = int(d.name.split("=")[1])
                parts.append(p)
        if not parts:
            return pd.DataFrame(columns=["a", "b", "evicted_fps", "batch_id"])
        return pd.concat(parts, ignore_index=True)

    def check_stream(self, progress: list[dict], sink) -> tuple[int, int, dict]:
        """Per micro-batch: every emitted pair is planted, not a self
        pair, and not emitted by an earlier batch.  Returns (attempted,
        failed, pair counts over the whole sink)."""
        cl = dict(zip(self.truth["url"], self.truth["cluster"]))
        seen: set[tuple[str, str]] = set()
        att = bad = 0
        for p in progress:
            if not p.get("numInputRows"):
                continue
            att += 1
            rows = sink[sink["batch_id"] == p["batchId"]]
            ok = True
            for a, b in zip(rows["a"], rows["b"]):
                key = (min(a, b), max(a, b))
                if a == b or cl.get(a) != cl.get(b) or key in seen:
                    ok = False
                seen.add(key)
            if not ok:
                self.notes.append(f"micro-batch {p['batchId']} check failed")
            bad += not ok
        counts = stats.pair_counts(self.truth, stats.components(seen))
        return att, bad, counts

    def stream_replay(self):
        """Drain the stream corpus once and check every micro-batch.
        The stream's in-state gate is a 32-permutation MinHash estimate,
        documented as a recall prefilter (streaming.stream_near_dup), so
        the sink's pair recall is reported, not gated.  Returns the
        query's progress records, the sink's rows and the pair counts."""
        progress = self.stream_once(self.work / "sck", self.work / "sout")
        sink = self._sink(self.work / "sout")
        att, bad, counts = self.check_stream(progress, sink)
        self.attempted += att
        self.failed += bad
        return progress, sink, counts

    # ---- runs -------------------------------------------------------------

    def run(self) -> dict:
        self._env()
        self.data, self.meta = gen.ensure(self.workload, self.seed, self.cache)
        self.truth = self._truth()
        from app_dupfind_spark.config import DedupConfig

        self.cfg = DedupConfig(jaccard_threshold=0.7, span_enabled=True)
        setup_s = self.setup()
        if self.trace:
            import traced

            metrics = traced.run(self)
        else:
            metrics = {"setup_s": (setup_s, "s"), **self.timed()}
        return metrics
