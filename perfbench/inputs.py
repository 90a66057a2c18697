"""Seeded input generation. Everything the engine reads is written here,
before any clock starts, and the same seed always gives the same files.

The corpus, the bulk-admission batch and the expected outputs are written
in this process with pyarrow and the pure-Python oracle. The pre-existing
checkpoints (crawl_steady's history frontier, admit_bulk's half-seen
frontier) are written by the engine itself, with its URL kernels and
``BucketedSnapshotTable.commit_upsert``, in a subprocess
(perfbench/generate.py) whose JVM has exited before the measured run starts.
Every entry is cached under ``perfbench/.cache``: per seed; or, for the
history table and admit_bulk's frontier, which do not depend on the seed,
once; or, for the crawl_steady checkpoint, per set of round-0 URLs. The
key also covers the source files an entry is computed from. Each
run copies the cached checkpoint into its own work dir, so the measured JVM
starts cold on every run, cache hit or miss.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time
import zlib
from dataclasses import asdict, dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from smartcrawler_spark import oracle
from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus

from . import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
CHECKPOINT = "ck"   # the checkpoint dir in a cache entry and in a run's work dir
# the files a cache entry is computed from: a change to any of them
# regenerates the inputs and the expected outputs
SOURCES = (
    "smartcrawler_spark/oracle.py", "smartcrawler_spark/sources/corpus.py",
    "smartcrawler_spark/functions/relevance.py", "smartcrawler_spark/functions/urls.py",
    "smartcrawler_spark/operators/frontier.py", "smartcrawler_spark/plans/crawl.py",
    "smartcrawler_spark/sources/snapshot.py", "smartcrawler_spark/session.py",
    "perfbench/inputs.py", "perfbench/checks.py", "perfbench/generate.py",
    "perfbench/engine.py",
)


@dataclass(frozen=True)
class CrawlSizes:
    hosts: int = 200            # 200 hosts x budget 4 = 800 fetches per round
    pages_per_host: int = 20
    hot_host_pages: int = 200   # one hot host
    links_per_page: int = 5
    budget: int = 4
    cap: int = 1000             # above any host's URL count: never binds
    max_rounds: int = 1         # rounds the oracle covers: round 1 is the
                                # one every repetition re-runs
    history_rows: int = 200_000   # crawl_steady: fetched rows on other hosts
    history_hosts: int = 200
    keywords: dict = field(default_factory=lambda: {"news": 2.0, "docs": 1.0})


@dataclass(frozen=True)
class AdmitSizes:
    raw_urls: int = 100_000
    raw_files: int = 16           # part files of the raw batch
    hosts: int = 500
    hot_share: float = 0.30
    private_share: float = 0.10   # robots-disallowed paths
    ids_per_host_draw: float = 0.05  # id space / draws: sets the duplicate rate
    cap: int = 16_000             # binds on the hot host only
    budget: int = 20
    hot_budget: int = 200
    keywords: dict = field(
        default_factory=lambda: {"news": 2.0, "docs": 1.0, "item1": 0.5})


HOT_HOST = "hot.example.net"


def _sources_crc() -> int:
    crc = 0
    for rel in SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            crc = zlib.crc32(f.read(), crc)
    return crc


def _key(sz) -> str:
    """Cache-key suffix: changes whenever a size parameter or a source file
    the entry is computed from changes."""
    sizes = zlib.crc32(json.dumps(asdict(sz), sort_keys=True).encode())
    return f"{sizes:08x}{_sources_crc():08x}"


def engine_config(sz):
    """The engine configuration the crawl workloads run with."""
    from smartcrawler_spark.plans.crawl import EngineConfig

    return EngineConfig(keywords=dict(sz.keywords), max_urls_per_host=sz.cap,
                        max_rounds=sz.max_rounds, default_budget=sz.budget)


def frontier_buckets() -> int:
    """The engine's default frontier bucket count, which the crawl
    workloads run with."""
    from smartcrawler_spark.plans.crawl import EngineConfig

    return EngineConfig().frontier_buckets


def _generate(out: str, *args: str) -> None:
    """Run perfbench/generate.py in `out` and wait for it (and its JVM)."""
    log_path = os.path.join(out, "generate.log")
    with open(log_path, "w") as log:
        rc = subprocess.run([sys.executable, os.path.join(HERE, "generate.py"), *args],
                            cwd=out, stdout=log, stderr=subprocess.STDOUT).returncode
    shutil.rmtree(os.path.join(out, ".gen"), ignore_errors=True)
    with open(log_path) as f:
        tail = f.read()[-4000:]
    os.remove(log_path)
    if rc != 0:
        raise RuntimeError(f"input generation {args[0]} failed (exit {rc}):\n{tail}")


def copy_checkpoint(entry: str, work: str) -> str:
    """Copy a cache entry's checkpoint to `work`; returns the relative path
    the engine addresses it by once the run's working directory is `work`."""
    dst = os.path.join(work, CHECKPOINT)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(os.path.join(entry, CHECKPOINT), dst)
    return CHECKPOINT


def _cached(name: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for a cache entry, building it into a temporary
    dir and renaming it into place if absent (a killed run leaves no
    half-written entry behind)."""
    final = os.path.join(CACHE, name)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cache_hit"] = True
        return final, meta
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["generate_s"] = time.perf_counter() - t0
    meta["mb"] = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(tmp) for f in fs) / 2**20
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    meta["cache_hit"] = False
    return final, meta


def load_expected(d: str) -> dict:
    with open(os.path.join(d, "expected.json")) as f:
        return json.load(f)


def history_digest(frontier) -> tuple[int, int]:
    """(rows, sum of per-row CRC-32s) of the history hosts' rows in a
    frontier DataFrame — the Spark twin of the digest written at
    generation time."""
    from pyspark.sql import functions as F

    h = frontier.filter(F.col("host").startswith("hist"))
    text = F.concat_ws("|", "url_canon", F.col("url_hash").cast("string"), "host",
                       F.col("is_root").cast("string"), F.col("score").cast("string"),
                       "status", F.col("round_added").cast("string"),
                       F.col("round_fetched").cast("string"), "title")
    row = h.agg(F.count("*").alias("n"),
                F.sum(F.crc32(text.cast("binary"))).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


# ---------------------------------------------------------------------------
# crawl workloads: corpus + oracle crawl (+ the crawl_steady checkpoint)
# ---------------------------------------------------------------------------


def crawl_inputs(seed: int, sz: CrawlSizes) -> tuple[str, dict]:
    """Corpus (``generate_corpus``) and the oracle's crawl of it."""

    def build(out: str) -> dict:
        corpus = os.path.join(out, "corpus")
        manifest = generate_corpus(corpus, CorpusConfig(
            seed=seed, n_hosts=sz.hosts, pages_per_host=sz.pages_per_host,
            hot_host_pages=sz.hot_host_pages, links_per_page=sz.links_per_page,
            default_budget=sz.budget))
        # the crawl reads (doc_id, host, spans) only; dropping the
        # flattened-tree analytics column keeps the oracle's load cheap
        docs = os.path.join(corpus, "documents.parquet")
        pq.write_table(pq.read_table(docs, columns=["doc_id", "host", "spans"]),
                       docs)
        t0 = time.perf_counter()
        res = oracle.crawl(corpus, manifest["seeds"], oracle.CrawlConfig(
            keywords=dict(sz.keywords), max_urls_per_host=sz.cap,
            max_rounds=sz.max_rounds, default_budget=sz.budget))
        oracle_s = time.perf_counter() - t0
        expected = {
            "max_rounds": sz.max_rounds,
            "seeds": manifest["seeds"],
            "crawl_log": res.crawl_log,
            "frontier": {u: [r["host"], r["status"], r["title"],
                             r["round_added"], r["round_fetched"]]
                         for u, r in res.frontier.items()},
            "metrics": res.metrics,
        }
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump(expected, f)
        short = [m["round"] for m in res.metrics
                 if m["round"] > 0 and m["scheduled"] < sz.hosts * sz.budget]
        capped = [m["round"] for m in res.metrics if m["cap_rejected"]]
        return {"n_docs": manifest["n_docs"], "oracle_s": oracle_s,
                "rounds_below_full_budget": short, "rounds_cap_bound": capped}

    return _cached(f"crawl-s{seed}-{_key(sz)}", build)


def history_inputs(sz: CrawlSizes) -> tuple[str, dict]:
    """A frontier table of `history_rows` already-fetched rows on hosts the
    corpus never links to, and their digest. The same for every seed, so
    it is generated once."""

    def build(out: str) -> dict:
        _generate(out, "history", json.dumps(asdict(sz)))
        return {"history_rows": sz.history_rows}

    return _cached(f"history-{_key(sz)}", build)


def steady_inputs(sz: CrawlSizes, crawl_dir: str) -> tuple[str, dict]:
    """The crawl_steady checkpoint: the history table with the corpus
    crawl's round-0 admissions upserted into it by the engine's
    ``commit_upsert``. The entry is keyed by those URLs, not by the seed:
    round 0 admits the hosts' root URLs and sitemaps, which the corpus
    generator derives from host and page numbers alone, so the seeds of one
    corpus size share one checkpoint instead of starting a generation JVM
    each."""
    hist_dir, hmeta = history_inputs(sz)
    frontier = load_expected(crawl_dir)["frontier"]
    round0 = sorted(u for u, r in frontier.items() if r[3] == 0)
    urls_crc = zlib.crc32("\n".join(round0).encode())

    def build(out: str) -> dict:
        shutil.copytree(os.path.join(hist_dir, CHECKPOINT), os.path.join(out, CHECKPOINT))
        shutil.copy(os.path.join(hist_dir, "expected.json"), out)
        path = os.path.join(out, "round0.parquet")
        pq.write_table(pa.table({"url": round0}), path)
        _generate(out, "round0", json.dumps(asdict(sz)))
        os.remove(path)
        return {"history_rows": sz.history_rows, "history_generate_s": hmeta["generate_s"]}

    return _cached(f"steady-{urls_crc:08x}-{_key(sz)}", build)


# ---------------------------------------------------------------------------
# admit_bulk: raw batch + half-seen frontier + expected sets
# ---------------------------------------------------------------------------


SECTIONS = ("news", "docs", "blog", "shop")


def _id_space(sz: AdmitSizes) -> dict[str, int]:
    """Host -> number of page ids each path family of that host draws from."""
    per_host = sz.raw_urls * (1 - sz.hot_share) / sz.hosts
    ids_other = max(1, int(per_host * sz.ids_per_host_draw))
    ids = {f"site{i:03d}.example.net": ids_other for i in range(sz.hosts)}
    ids[HOT_HOST] = max(1, int(sz.raw_urls * sz.hot_share * sz.ids_per_host_draw))
    return ids


def _universe(sz: AdmitSizes) -> list[str]:
    """Every canonical URL a raw batch can hold, whatever the seed."""
    out = set()
    for host, ids in _id_space(sz).items():
        paths = ["/"] + [f"/private/p{i}" for i in range(ids)]
        paths += [f"/{sec}/item{i}{q}" for sec in SECTIONS for i in range(ids)
                  for q in ("", "?ref=sitemap")]
        out.update(oracle.canon(f"{scheme}://{host}{p}")
                   for scheme in ("https", "http") for p in paths)
    return sorted(out)


def _seen(universe: list[str]) -> list[str]:
    """The half of the URL universe the existing frontier holds."""
    return [u for u in universe if zlib.crc32(u.encode()) & 1 == 0]


def _raw_batch(seed: int, sz: AdmitSizes) -> list[str]:
    rng = random.Random(seed)
    space = _id_space(sz)
    hosts = [h for h in space if h != HOT_HOST]
    out = []
    for _ in range(sz.raw_urls):
        host = HOT_HOST if rng.random() < sz.hot_share else hosts[rng.randrange(len(hosts))]
        ids = space[host]
        x = rng.random()
        if x < 0.01:
            path = "/"
        elif x < 0.01 + sz.private_share:
            path = f"/private/p{rng.randrange(ids)}"
        else:
            path = f"/{SECTIONS[rng.randrange(4)]}/item{rng.randrange(ids)}"
            if rng.random() < 0.2:
                path += "?ref=sitemap"
        # surface variants that canonicalize together: scheme case,
        # default ports, host case
        scheme = rng.choice(("https://", "https://", "HTTPS://", "Https://",
                             "http://", "HTTP://"))
        if rng.random() < 0.15:
            host_s = host + (":443" if scheme.lower() == "https://" else ":80")
        else:
            host_s = host
        if rng.random() < 0.1:
            host_s = host_s.upper()
        out.append(scheme + host_s + path)
    return out


def admit_frontier(sz: AdmitSizes) -> tuple[str, dict]:
    """admit_bulk's existing frontier: half of the URL universe, committed
    as fetched rows by the engine. The same for every seed, so it is
    generated once."""

    def build(out: str) -> dict:
        seen = os.path.join(out, "seen.parquet")
        pq.write_table(pa.table({"url": _seen(_universe(sz))}), seen)
        _generate(out, "admit", json.dumps(asdict(sz)))
        os.remove(seen)
        return {}

    return _cached(f"admit-frontier-{_key(sz)}", build)


def admit_inputs(seed: int, sz: AdmitSizes) -> tuple[str, dict]:
    """The raw batch, the robots and politeness tables, and the expected
    admitted and scheduled sets for the frontier of ``admit_frontier``."""

    def build(out: str) -> dict:
        raw = _raw_batch(seed, sz)
        universe = _universe(sz)
        seen = _seen(universe)
        distinct = {oracle.canon(u) for u in raw}
        if not distinct <= set(universe):
            raise RuntimeError("raw batch URL outside the URL universe")
        hosts = sorted({oracle.host_of(u) for u in universe})
        disallow = {h: ["/private"] for h in hosts}
        budgets = {HOT_HOST: sz.hot_budget}
        seen_per_host: dict[str, int] = {}
        for u in seen:
            h = oracle.host_of(u)
            seen_per_host[h] = seen_per_host.get(h, 0) + 1
        t0 = time.perf_counter()
        admitted, scheduled = checks.expected_admission(
            raw, set(seen), seen_per_host, disallow, sz.cap, budgets,
            sz.budget, dict(sz.keywords))
        expect_s = time.perf_counter() - t0
        raw_dir = os.path.join(out, "raw")
        os.makedirs(raw_dir)
        step = -(-len(raw) // sz.raw_files)
        for i in range(sz.raw_files):
            pq.write_table(pa.table({"url": raw[i * step:(i + 1) * step]}),
                           os.path.join(raw_dir, f"part-{i:03d}.parquet"))
        pq.write_table(pa.table({"host": hosts, "disallow_prefix": ["/private"] * len(hosts)}),
                       os.path.join(out, "robots.parquet"))
        pq.write_table(pa.table({"host": list(budgets),
                                 "budget": pa.array(list(budgets.values()), pa.int32())}),
                       os.path.join(out, "politeness.parquet"))
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump({"admitted": sorted(admitted),
                       "scheduled": sorted(scheduled)}, f)
        return {"raw_urls": len(raw), "distinct_urls": len(distinct),
                "universe_urls": len(universe), "seen_urls": len(seen),
                "seen_in_batch": len(distinct & set(seen)),
                "expected_admitted": len(admitted),
                "expected_scheduled": len(scheduled), "expected_s": expect_s}

    return _cached(f"admit-s{seed}-{_key(sz)}", build)
