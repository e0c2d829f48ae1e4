"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest dedupbench/tests -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import stats  # noqa: E402


def _digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(d.rglob("*.parquet")):
        h.update(f.relative_to(d).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


# ---- generator -----------------------------------------------------------

@pytest.mark.parametrize("workload", ["stream_replay", "crawl_dupheavy"])
def test_generator_same_seed_same_files(tmp_path, workload):
    gen.generate(workload, 5, tmp_path / "a")
    gen.generate(workload, 5, tmp_path / "b")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_generator_other_seed_other_files(tmp_path):
    gen.generate("stream_replay", 5, tmp_path / "a")
    gen.generate("stream_replay", 6, tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_generator_truth_is_after_keep_first(tmp_path):
    meta = gen.generate("crawl_dupheavy", 5, tmp_path / "d")
    pages = pd.read_parquet(tmp_path / "d" / "pages")
    truth = pd.read_parquet(tmp_path / "d" / "truth.parquet")
    assert meta["rows"] > meta["docs"] == len(truth) == pages["url"].nunique()
    first = pages.sort_values("warc_ts").drop_duplicates("url")
    # an exact-copy cluster shares one text among its kept rows
    kept = first.merge(truth, on="url")
    x = kept[kept["cluster"].str.startswith("x")]
    assert (x.groupby("cluster")["text"].nunique() == 1).all()
    assert meta["link_jaccard_min"] >= gen.MIN_LINK_JACCARD
    assert meta["unplanted_jaccard_max"] < gen.MAX_UNPLANTED_JACCARD


def test_shingle_jaccard():
    import numpy as np

    a = np.arange(20)
    b = a.copy()
    b[10] = 99  # one substitution changes 5 of 16 shingles
    assert gen.jaccard(a, a) == 1.0
    assert gen.jaccard(a, b) == pytest.approx(11 / 21)


# ---- pair recall from contingency counts ---------------------------------

def test_pair_counts_hand_built():
    truth = pd.DataFrame({"url": list("abcdef"),
                          "cluster": ["1", "1", "1", "2", "2", "f"]})
    # output splits cluster 1, merges e with f
    pred = pd.DataFrame({"url": list("abcdef"),
                         "cluster": ["a", "a", "c", "d", "e", "e"]})
    c = stats.pair_counts(truth, pred)
    assert c["true_pairs"] == 4          # ab ac bc de
    assert c["output_pairs"] == 2        # ab ef
    assert c["recovered_pairs"] == 1     # ab
    assert c["false_pairs"] == 1         # ef
    assert c["pair_recall"] == pytest.approx(0.25)


def test_pair_counts_missing_urls_are_singletons():
    truth = pd.DataFrame({"url": list("abc"), "cluster": ["1", "1", "c"]})
    pred = pd.DataFrame({"url": ["a", "b"], "cluster": ["a", "a"]})
    c = stats.pair_counts(truth, pred)
    assert (c["pair_recall"], c["false_pairs"]) == (1.0, 0)


def test_partition_hash_ignores_labels():
    p1 = pd.DataFrame({"url": list("abc"), "cluster": ["x", "x", "y"]})
    p2 = pd.DataFrame({"url": list("cab"), "cluster": ["q", "z", "z"]})
    p3 = pd.DataFrame({"url": list("abc"), "cluster": ["x", "y", "y"]})
    assert stats.partition_hash(p1) == stats.partition_hash(p2)
    assert stats.partition_hash(p1) != stats.partition_hash(p3)


def test_components_union_find():
    c = stats.components([("b", "c"), ("a", "b"), ("x", "y")])
    got = dict(zip(c["url"], c["cluster"]))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


# ---- status-store aggregation --------------------------------------------

def test_aggregate_jobs_canned():
    jobs = [
        {"job_id": 1, "tags": ["stage:sigs"], "stage_ids": [1, 2]},
        # reuses shuffle stage 2 (skipped there): counted once, for job 1
        {"job_id": 2, "tags": ["spark-session-x-thread-y-stage:sigs"],
         "stage_ids": [2, 3]},
        {"job_id": 3, "tags": ["other", "stage:cc"], "stage_ids": [4]},
        {"job_id": 4, "tags": [], "stage_ids": [5, 6]},  # 6 never ran
    ]

    def st(e):
        return {"exec_s": e, "jvm_cpu_s": e / 2, "shuffle_write_mb": 1.0,
                "spill_mb": 0.0, "tasks": 4.0}

    stages = {1: st(1.0), 2: st(2.0), 3: st(3.0), 4: st(4.0), 5: st(5.0)}
    agg = stats.aggregate_jobs(jobs, stages)
    assert agg["sigs"]["jobs"] == 2
    assert agg["sigs"]["exec_s"] == 6.0
    assert agg["sigs"]["shuffle_write_mb"] == 3.0
    assert agg["cc"]["exec_s"] == 4.0 and agg["cc"]["jobs"] == 1
    assert agg[None]["exec_s"] == 5.0 and agg[None]["jobs"] == 1


def test_stage_tag():
    assert stats.stage_tag(["a", "x-stage:cands"]) == "cands"
    assert stats.stage_tag(["a"]) is None


def test_self_time_subtracts_union_of_children():
    # children overlap (3-6, 5-8) and one sticks out of the span (9-12)
    assert stats.self_time((0, 10), [(3, 6), (5, 8), (9, 12)]) == pytest.approx(4.0)
    assert stats.self_time((0, 10), []) == 10


# ---- percentiles ---------------------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 41))
    assert stats.percentile(xs, 50) == 20
    assert stats.percentile(xs, 75) == 30
    assert stats.percentile([5.0], 99) == 5.0


@pytest.mark.parametrize("n,expected", [
    (9, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_beyond(n, expected):
    p = stats.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n - stats._rank(p, n) >= 10
