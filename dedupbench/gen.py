"""Seeded workload generator for the dedup benchmark.

One process, numpy only.  A workload is a pages-schema parquet
(`url, warc_ts, html, text, lang`) plus a ground-truth table
(`url, cluster`) measured after canon's keep-first (earliest
`warc_ts` per url).  Words are drawn Zipf-distributed over a synthetic
lexicon, and every site prepends a short navigation phrase, so shingle
document frequency is skewed the way real pages are.

Every planted duplicate link is checked here with an independent numpy
5-shingle Jaccard: near-dup links must reach `MIN_LINK_JACCARD`, and a
sample of pairs from different clusters must stay below
`MAX_UNPLANTED_JACCARD`.  A corpus that fails either check raises.

Outputs are cached under `<cache>/<workload>-s<seed>-v<GEN_VERSION>/`.
"""

from __future__ import annotations

import json
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4
SHINGLE_K = 5
MIN_LINK_JACCARD = 0.8
MAX_UNPLANTED_JACCARD = 0.3
UNPLANTED_SAMPLE = 3000
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
LANGS = np.array(["en", "en", "en", "de", "fr", "es"])

BATCH_WORKLOADS = ("crawl_near", "crawl_dupheavy")
# replayed by crawl_dupheavy's traced run for the streaming layer
STREAM_CORPUS = "stream_replay"


@dataclass(frozen=True)
class Shape:
    n_docs: int              # canonical docs (urls kept by keep-first)
    len_median: float        # words, log-normal
    len_sigma: float
    len_min: int
    len_max: int
    near_share: float        # share of docs in near-dup groups
    span_share: float        # share of docs in shared-span pairs
    exact_share: float       # share of docs in exact-copy groups
    exact_zipf: bool = False  # rank-size (Zipf) exact groups
    exact_max: int = 3
    chain_share: float = 0.0
    chain_len: tuple[int, int] = (0, 0)
    recrawl_share: float = 0.0
    n_files: int = 1


SHAPES = {
    "crawl_near": Shape(
        n_docs=3600, len_median=320, len_sigma=0.8, len_min=60,
        len_max=4200, near_share=0.05, span_share=0.02, exact_share=0.01,
    ),
    "crawl_dupheavy": Shape(
        n_docs=3000, len_median=30, len_sigma=0.45, len_min=12,
        len_max=100, near_share=0.0, span_share=0.0, exact_share=0.5,
        exact_zipf=True, exact_max=100, chain_share=0.12,
        chain_len=(6, 24), recrawl_share=0.05,
    ),
    "stream_replay": Shape(
        n_docs=24, len_median=320, len_sigma=0.8, len_min=60,
        len_max=4200, near_share=0.25, span_share=0.0, exact_share=0.0,
        n_files=6,
    ),
}

# stream event time advances this much per file; the library's state
# TTL and watermark are one hour each, so buckets idle for more than
# ~2 h of event time (4 files) time out during the replay
STREAM_FILE_STEP = timedelta(minutes=30)
STREAM_PAIR_MAX_GAP = 1      # files between the members of a pair
STREAM_REDELIVER_SHARE = 0.1


class Lexicon:
    """Synthetic lowercase words with Zipf(s) frequencies by rank."""

    def __init__(self, size: int = 30_000, s: float = 1.05, seed: int = 7):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words: set[str] = set()
        while len(words) < size:
            n = int(rng.integers(2, 11))
            words.add("".join(rng.choice(letters, size=n)))
        self.words = np.array(sorted(words), dtype=object)
        rng.shuffle(self.words)
        w = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(idx, len(self.words) - 1).astype(np.int64)

    def text(self, ids: np.ndarray) -> str:
        return " ".join(self.words[ids])


def shingle_set(ids: np.ndarray, k: int = SHINGLE_K) -> np.ndarray:
    """Distinct word k-shingles of a word-id array as uint64 keys."""
    if len(ids) < k:
        return np.empty(0, dtype=np.uint64)
    x = ids.astype(np.uint64)
    h = np.zeros(len(ids) - k + 1, dtype=np.uint64)
    mult = np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = h * mult + x[j:len(ids) - k + 1 + j] + np.uint64(1)
    return np.unique(h)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    if sa.size == 0 and sb.size == 0:
        return 1.0
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return inter / (sa.size + sb.size - inter)


def _length_pool(rng, shape: Shape) -> list[int]:
    """Log-normal lengths at stratified quantiles, shuffled: every seed
    gets the same multiset of lengths (so the same amount of work) and
    only their assignment to documents changes."""
    from statistics import NormalDist

    q = (np.arange(shape.n_docs) + 0.5) / shape.n_docs
    z = np.array([NormalDist().inv_cdf(float(v)) for v in q])
    x = np.exp(np.log(shape.len_median) + shape.len_sigma * z)
    pool = np.clip(x.astype(np.int64), shape.len_min, shape.len_max)
    return [int(v) for v in rng.permutation(pool)]


def _edit(rng, lex: Lexicon, ids: np.ndarray, n_edits: int) -> np.ndarray:
    """n_edits random substitutions / insertions / deletions."""
    out = list(ids)
    for _ in range(n_edits):
        op = rng.integers(3)
        p = int(rng.integers(1, len(out) - 1))
        w = int(lex.draw(rng, 1)[0])
        if op == 0 and w != out[p]:
            out[p] = w
        elif op == 1:
            out.insert(p, w)
        elif len(out) > SHINGLE_K + 2:
            del out[p]
    return np.array(out, dtype=np.int64)


def _near_copy(rng, lex, base: np.ndarray, min_j: float) -> np.ndarray:
    """A copy of `base` with edits scaled to its length, re-drawn with
    fewer edits until its exact Jaccard to `base` reaches `min_j`."""
    n_sh = max(1, len(base) - SHINGLE_K + 1)
    rate = rng.uniform(0.003, 0.016) * (1.0 - min_j) / 0.2
    m = max(1, int(round(n_sh * rate)))
    while True:
        cand = _edit(rng, lex, base, m)
        if jaccard(base, cand) >= min_j and not np.array_equal(cand, base):
            return cand
        m = max(1, m // 2)


class _Corpus:
    def __init__(self, rng, lex: Lexicon, n_sites: int = 120):
        self.rng, self.lex = rng, lex
        # per-site navigation phrase: the high-document-frequency
        # shingles every page of a site shares
        self.nav = [lex.draw(rng, 6) for _ in range(n_sites)]
        sw = 1.0 / np.arange(1, n_sites + 1)
        self.site_cdf = np.cumsum(sw / sw.sum())
        self.docs: list[np.ndarray] = []
        self.sites: list[int] = []
        self.cluster: list[str] = []
        self.links: list[tuple[int, int]] = []

    def site(self) -> int:
        return int(np.searchsorted(self.site_cdf, self.rng.random()))

    def body(self, n_words: int, site: int) -> np.ndarray:
        return np.concatenate([self.nav[site], self.lex.draw(self.rng, n_words)])

    def add(self, ids: np.ndarray, site: int, cluster: str | None) -> int:
        i = len(self.docs)
        self.docs.append(ids)
        self.sites.append(site)
        self.cluster.append(cluster if cluster is not None else f"u{i}")
        return i


def _build(shape: Shape, seed: int, lex: Lexicon) -> _Corpus:
    """Group sizes and lengths follow fixed sequences, so the amount of
    work is the same for every seed; the seed picks the words."""
    rng = np.random.default_rng(seed)
    b = _Corpus(rng, lex)
    n = shape.n_docs
    lengths = _length_pool(rng, shape)
    budget = {"near": int(n * shape.near_share), "span": int(n * shape.span_share),
              "exact": int(n * shape.exact_share),
              "chain": int(n * shape.chain_share)}
    gid = 0
    # near-dup groups: a base plus 1-3 independent edited copies
    while budget["near"] >= 2:
        size = min(2 + gid % 3, budget["near"])
        site = b.site()
        base = b.body(max(100, lengths.pop()), site)
        cid = f"n{gid}"
        i0 = b.add(base, site, cid)
        for _ in range(size - 1):
            j = b.add(_near_copy(rng, lex, base, MIN_LINK_JACCARD), b.site(), cid)
            b.links.append((i0, j))
        budget["near"] -= size
        gid += 1
    # shared-span pairs: unrelated docs sharing one >= 300-char run
    # inside the span stage's character prefix
    while budget["span"] >= 2:
        span = lex.draw(rng, 60)
        while len(lex.text(span)) < 320:
            span = np.concatenate([span, lex.draw(rng, 5)])
        cid = f"p{gid}"
        for _ in range(2):
            site = b.site()
            body = b.body(int(np.clip(lengths.pop(), 400, 1200)), site)
            p = int(rng.integers(7, min(len(body), 1000)))
            b.add(np.concatenate([body[:p], span, body[p:]]), site, cid)
        budget["span"] -= 2
        gid += 1
    # exact-copy groups; rank-size (Zipf) sizes when exact_zipf, the
    # largest well under DedupConfig.lsh_bucket_cap
    rank = 1
    while budget["exact"] >= 2:
        if shape.exact_zipf:
            size = max(2, shape.exact_max // rank)
        else:
            size = 2 + gid % (shape.exact_max - 1)
        size = max(2, min(size, budget["exact"]))
        site = b.site()
        ids = b.body(lengths.pop(), site)
        cid = f"x{gid}"
        for _ in range(size):
            b.add(ids, b.site(), cid)
        budget["exact"] -= size
        gid += 1
        rank += 1
    # near-dup chains: each copy edits the one before it
    lo, hi = shape.chain_len
    k = 0
    while budget["chain"] >= max(2, lo):
        size = min(lo + (k * 7) % (hi - lo + 1), budget["chain"])
        site = b.site()
        cur = b.body(60 + (k * 13) % 50, site)
        cid = f"c{gid}"
        prev = b.add(cur, site, cid)
        for _ in range(size - 1):
            cur = _near_copy(rng, lex, cur, MIN_LINK_JACCARD)
            nxt = b.add(cur, site, cid)
            b.links.append((prev, nxt))
            prev = nxt
        budget["chain"] -= size
        gid += 1
        k += 1
    while len(b.docs) < n:
        site = b.site()
        b.add(b.body(lengths.pop(), site), site, None)
    return b


def _check(b: _Corpus, shape: Shape, rng) -> dict:
    link_j = [jaccard(b.docs[i], b.docs[j]) for i, j in b.links]
    if link_j and min(link_j) < MIN_LINK_JACCARD:
        raise AssertionError(f"planted link below {MIN_LINK_JACCARD}: {min(link_j)}")
    cl = np.array(b.cluster, dtype=object)
    n = len(b.docs)
    worst = 0.0
    seen = 0
    while seen < UNPLANTED_SAMPLE:
        i, j = (int(v) for v in rng.integers(0, n, 2))
        if cl[i] == cl[j]:
            continue
        worst = max(worst, jaccard(b.docs[i], b.docs[j]))
        seen += 1
    if worst >= MAX_UNPLANTED_JACCARD:
        raise AssertionError(f"unplanted pair at Jaccard {worst}")
    return {
        "links": len(link_j),
        "link_jaccard_min": round(min(link_j), 4) if link_j else None,
        "link_jaccard_median": round(float(np.median(link_j)), 4) if link_j else None,
        "unplanted_sampled": seen,
        "unplanted_jaccard_max": round(worst, 4),
    }


def _pages(b: _Corpus, shape: Shape, rng, lex: Lexicon):
    """Rows (with re-crawls) in shuffled file order, plus the truth."""
    n = len(b.docs)
    order = rng.permutation(n)
    urls = np.array(
        [f"https://site{b.sites[i]:03d}.example/p/{i:06d}" for i in range(n)],
        dtype=object,
    )
    texts = [lex.text(d) for d in b.docs]
    ts = [BASE_TS + timedelta(seconds=int(s)) for s in rng.integers(0, 86_400, n)]
    rows = {"url": list(urls), "warc_ts": ts, "text": texts}
    # re-crawls: same url, a later warc_ts, unrelated text; keep-first
    # drops them, so they never enter the truth
    n_re = int(n * shape.recrawl_share)
    for i in rng.choice(n, size=n_re, replace=False):
        rows["url"].append(urls[i])
        rows["warc_ts"].append(ts[i] + timedelta(days=int(rng.integers(1, 30))))
        rows["text"].append(lex.text(b.body(int(rng.integers(shape.len_min, 60)),
                                            b.sites[i])))
    pdf = pd.DataFrame(rows)
    pdf["html"] = [f"<html><body><p>{t}</p></body></html>".encode()
                   for t in pdf["text"]]
    pdf["lang"] = LANGS[rng.integers(0, len(LANGS), len(pdf))]
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    truth = pd.DataFrame({"url": urls[order], "cluster": np.array(b.cluster)[order]})
    return pdf[["url", "warc_ts", "html", "text", "lang"]], truth


def _stream_files(b: _Corpus, shape: Shape, rng, lex: Lexicon):
    """Assign docs to files: pair members within STREAM_PAIR_MAX_GAP
    files of each other, event time advancing per file, and a share of
    ids re-delivered (same url and text) in a later file."""
    n, F = len(b.docs), shape.n_files
    file_of = rng.permutation(n) % F
    linked: set[int] = set()
    for i, j in b.links:
        file_of[j] = min(F - 1, file_of[i] + int(rng.integers(0, STREAM_PAIR_MAX_GAP + 1)))
        linked.update((i, j))
    counts = np.bincount(file_of, minlength=F)
    for f in np.flatnonzero(counts == 0):
        src = int(np.argmax(counts))
        k = next(k for k in range(n) if file_of[k] == src and k not in linked)
        file_of[k] = f
        counts[src] -= 1
        counts[f] += 1
    urls = [f"https://site{b.sites[i]:03d}.example/p/{i:06d}" for i in range(n)]
    texts = [lex.text(d) for d in b.docs]
    entries = [(int(file_of[i]), i) for i in range(n)]
    n_re = int(n * STREAM_REDELIVER_SHARE)
    for i in rng.choice(n, size=n_re, replace=False):
        f = int(file_of[i])
        entries.append((min(F - 1, f + int(rng.integers(1, 4))), int(i)))
    files = []
    for f in range(F):
        idx = [i for ff, i in entries if ff == f]
        t0 = BASE_TS + f * STREAM_FILE_STEP
        pdf = pd.DataFrame({
            "url": [urls[i] for i in idx],
            "warc_ts": [t0 + timedelta(seconds=int(s))
                        for s in rng.integers(0, 60, len(idx))],
            "html": [f"<html><body><p>{texts[i]}</p></body></html>".encode()
                     for i in idx],
            "text": [texts[i] for i in idx],
            "lang": LANGS[rng.integers(0, len(LANGS), len(idx))],
        })
        files.append(pdf)
    truth = pd.DataFrame({"url": urls, "cluster": b.cluster})
    return files, truth


_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _write(pdf: pd.DataFrame, path: Path) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, schema=_SCHEMA, preserve_index=False),
                   path)


def generate(workload: str, seed: int, out: Path) -> dict:
    """Write `out/pages/*.parquet`, `out/truth.parquet`, `out/meta.json`."""
    shape = SHAPES[workload]
    lex = Lexicon()
    b = _build(shape, seed, lex)
    rng = np.random.default_rng([seed, 1])
    meta = {"workload": workload, "seed": seed, "version": GEN_VERSION,
            **_check(b, shape, rng)}
    pages = out / "pages"
    pages.mkdir(parents=True)
    if shape.n_files > 1:
        files, truth = _stream_files(b, shape, rng, lex)
        for f, pdf in enumerate(files):
            _write(pdf, pages / f"part-{f:04d}.parquet")
        meta["rows"] = int(sum(len(p) for p in files))
    else:
        pdf, truth = _pages(b, shape, rng, lex)
        _write(pdf, pages / "part-0000.parquet")
        meta["rows"] = len(pdf)
    meta["docs"] = len(truth)
    meta["files"] = shape.n_files
    truth.to_parquet(out / "truth.parquet", index=False)
    (out / "meta.json").write_text(json.dumps(meta, indent=1))
    return meta


def ensure(workload: str, seed: int, cache: Path) -> tuple[Path, dict]:
    """Cached generate(): reuses `<cache>/<workload>-s<seed>-v<N>`."""
    d = cache / f"{workload}-s{seed}-v{GEN_VERSION}"
    if (d / "meta.json").exists():
        return d, json.loads((d / "meta.json").read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = generate(workload, seed, tmp)
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, meta
