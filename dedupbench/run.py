"""Dedup benchmark: one seeded workload, timed end to end, outputs
checked against planted ground truth.

    python3 dedupbench/run.py --workload crawl_near --seed 1 \\
        --seconds 10 --trace 0

Workloads (see gen.py and layers.json):
  crawl_near      long web-length pages, planted near-dup groups,
                  shared-span pairs and a few exact copies
  crawl_dupheavy  short pages, half of them exact copies in Zipf-sized
                  groups, re-crawled urls and edit chains

Each run starts a fresh Spark JVM (`setup_s`), then makes one fresh
durable pipeline run (`pipeline_s`; the jobs/run_pipeline.py path:
get_spark's session, parquet checkpoints, content fingerprint, clusters
written as parquet) and checks its clusters.  The run takes longer than
any `--seconds` the benchmark is run with (10), so a run measures
exactly it, with a cold JIT as in a spark-submit run; `--seconds` is
accepted and not used.  The traced run also resumes the pipeline after
the verify, spans, cc and clusters manifests are removed, the state a
crash during verify leaves, and checks and times the resume
(`pipeline.resume_s`).

`--trace 0` prints the end-to-end metrics; `--trace 1` makes a separate
traced run and prints the per-layer metrics.  The last stdout line is
one JSON object: correct, attempted, failed, metrics.

Inputs are cached under .dedupbench_cache/, per-run files go to
.dedupbench_work/ (removed at exit) and traced-run spans to
.dedupbench_out/, all in the checkout.  Tests of the benchmark's own
code: python3 -m pytest dedupbench/tests
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
from workload import Bench  # noqa: E402

DEADLINE_S = 170          # hard stop well inside the 180 s run limit


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.BATCH_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import app_dupfind_spark  # noqa: F401
    except ImportError as e:
        print(f"dedupbench: the library is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    b = Bench(args.workload, args.seed, bool(args.trace))
    try:
        metrics = b.run()
    finally:
        try:
            b.teardown()
        finally:
            signal.alarm(0)
            shutil.rmtree(b.work, ignore_errors=True)
    for note in b.notes:
        print(f"# {note}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
