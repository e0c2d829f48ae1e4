"""Pure helpers of the benchmark: percentiles, pair recall from
contingency counts, status-store aggregation and span self time.  No
Spark here, so the tests run without a session."""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable

import pandas as pd

# percentiles tried from the highest down by `tail_percentile`
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the sample at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile in PERCENTILES whose nearest rank leaves at
    least `min_beyond` samples above it; None if even the median does
    not."""
    for p in PERCENTILES:
        if n - _rank(p, n) >= min_beyond:
            return p
    return None


def pair_counts(truth: pd.DataFrame, pred: pd.DataFrame) -> dict:
    """Pair recall and false pairs from (true x output) cluster
    contingency counts, never by listing pairs.

    `truth` and `pred` have columns (url, cluster); urls missing from
    `pred` count as singletons."""
    df = truth.merge(pred, on="url", how="left", suffixes=("_t", "_p"))
    df["cluster_p"] = df["cluster_p"].fillna("__single__" + df["url"])

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    true_pairs = pairs(df.groupby("cluster_t").size())
    out_pairs = pairs(df.groupby("cluster_p").size())
    both = pairs(df.groupby(["cluster_t", "cluster_p"]).size())
    return {
        "true_pairs": true_pairs,
        "output_pairs": out_pairs,
        "recovered_pairs": both,
        "pair_recall": both / true_pairs if true_pairs else 1.0,
        "false_pairs": out_pairs - both,
    }


def partition_hash(pred: pd.DataFrame) -> str:
    """Hash of a cluster assignment that ignores cluster labels: each
    url maps to the smallest url of its cluster."""
    rep = pred.groupby("cluster")["url"].transform("min")
    rows = sorted(zip(pred["url"], rep))
    h = hashlib.sha256()
    for u, r in rows:
        h.update(f"{u}\t{r}\n".encode())
    return h.hexdigest()


def components(pairs: Iterable[tuple[str, str]]) -> pd.DataFrame:
    """(url, cluster) from an edge list, by union-find."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    urls = list(parent)
    return pd.DataFrame({"url": urls, "cluster": [find(u) for u in urls]})


def stage_tag(tags: Iterable[str], prefix: str = "stage:") -> str | None:
    """The stage name of a job's first `prefix` tag.  A session tag can
    reach the job prefixed by session and thread ids, so the prefix is
    searched for, not anchored."""
    for t in tags:
        i = t.find(prefix)
        if i >= 0:
            return t[i + len(prefix):]
    return None


STAGE_FIELDS = ("exec_s", "jvm_cpu_s", "shuffle_write_mb", "spill_mb", "tasks")


def aggregate_jobs(jobs: list[dict], stages: dict[int, dict],
                   tag_prefix: str = "stage:") -> dict[str | None, dict]:
    """Sum Spark-stage metrics per tag.

    `jobs`: dicts with job_id, tags (list), stage_ids (list), start_ms,
    end_ms.  `stages`: stage id -> dict with STAGE_FIELDS.  Each Spark
    stage counts once, for the earliest job that lists it (a reused
    shuffle stage shows up as skipped in later jobs).  Jobs without a
    `tag_prefix` tag land under the key None."""
    out: dict[str | None, dict] = {}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["job_id"]):
        key = stage_tag(job["tags"], tag_prefix)
        acc = out.setdefault(key, {f: 0.0 for f in STAGE_FIELDS} | {"jobs": 0})
        acc["jobs"] += 1
        for sid in job["stage_ids"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for f in STAGE_FIELDS:
                acc[f] += stages[sid][f]
    return out


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part its child spans cover."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)
