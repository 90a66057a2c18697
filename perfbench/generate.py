"""Write a pre-existing checkpoint with the engine itself, in a process of
its own whose JVM exits before the measured run starts.

    python3 perfbench/generate.py history <sizes_json>
    python3 perfbench/generate.py round0 <sizes_json>
    python3 perfbench/generate.py admit <sizes_json>

Run from the cache entry being built: the checkpoint goes to ``ck/`` under
the working directory, addressed by that relative path, so the manifests
stay valid wherever the entry is copied. Scratch files go to ``.gen/``.

* ``history``: a new frontier table of ``history_rows`` already-fetched
  rows on hosts the corpus never links to, committed with
  ``BucketedSnapshotTable.commit_upsert``; writes ``expected.json`` with
  the history rows' digest. It does not depend on the seed.
* ``round0``: a copy of that table merged with the URLs in
  ``round0.parquet`` (the oracle's round-0 admissions) as PENDING rows, what
  ``CrawlJob.bootstrap`` commits, and committed again with
  ``commit_upsert`` as round 0, so ``bootstrap`` resumes from it.
* ``admit``: the URLs in ``seen.parquet`` committed as fetched rows of a
  new frontier table with ``commit_upsert``.

Inputs arrive as parquet files, never as Python lists: a DataFrame made
from Python objects would start Python workers in this JVM.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import engine, inputs  # noqa: E402

CK = "ck"


def _frontier():
    from smartcrawler_spark.sources.snapshot import BucketedSnapshotTable

    return BucketedSnapshotTable(CK, "frontier", n_buckets=inputs.frontier_buckets(),
                                 key_col="url_hash")


def _frontier_rows(urls, keywords: dict, status: str, fetched: int | None, title):
    """Engine-computed frontier rows (canonical URL, hash, host, root flag,
    score) for a DataFrame of `url`, with the given status columns."""
    from pyspark.sql import functions as F

    from smartcrawler_spark.operators import frontier as FR

    return FR.with_url_columns(urls, "url", keywords).select(
        "url_canon", "url_hash", "host", "is_root", "score",
        F.lit(status).alias("status"), F.lit(0).alias("round_added"),
        F.lit(fetched).cast("int").alias("round_fetched"),
        title.cast("string").alias("title"))


def history(spark, sz: inputs.CrawlSizes) -> None:
    from pyspark.sql import functions as F

    i = F.col("id")
    urls = spark.range(sz.history_rows).select(F.format_string(
        "https://hist%04d.example.org/archive/item%d", i % sz.history_hosts, i
    ).alias("url"))
    title = F.concat(F.lit("archived page "),
                     F.regexp_extract("url_canon", r"item(\d+)$", 1))
    t = _frontier()
    t.commit_upsert(_frontier_rows(urls, dict(sz.keywords), "SUCCESS", 0, title), None,
                    meta={"round": 0, "source": "perfbench-history"})
    n, digest = inputs.history_digest(t.read(spark))
    if n != sz.history_rows:
        raise RuntimeError(f"{n} history rows committed, {sz.history_rows} generated")
    with open("expected.json", "w") as f:
        json.dump({"history_digest": [n, digest]}, f)


def round0(spark, sz: inputs.CrawlSizes) -> None:
    from pyspark.sql import functions as F

    urls = spark.read.parquet("round0.parquet")
    new = _frontier_rows(urls, dict(sz.keywords), "PENDING", None, F.lit(None))
    t = _frontier()
    t.commit_upsert(t.read(spark).unionByName(new), None,
                    meta={"round": 0, "source": "perfbench-round0"})


def admit(spark, sz: inputs.AdmitSizes) -> None:
    from pyspark.sql import functions as F

    seen = spark.read.parquet("seen.parquet")
    rows = _frontier_rows(seen, dict(sz.keywords), "SUCCESS", 0, F.lit(None))
    _frontier().commit_upsert(rows, None,
                              meta={"round": 0, "source": "perfbench-admit-input"})


def main(argv: list[str]) -> int:
    kind = argv[0]
    work = os.path.abspath(".gen")
    engine.configure(work, None, prewarm=False)
    spark = engine.spark_factory(work, measured=False)()
    try:
        if kind == "history":
            history(spark, inputs.CrawlSizes(**json.loads(argv[1])))
        elif kind == "round0":
            round0(spark, inputs.CrawlSizes(**json.loads(argv[1])))
        elif kind == "admit":
            admit(spark, inputs.AdmitSizes(**json.loads(argv[1])))
        else:
            raise SystemExit(f"unknown input kind {kind!r}")
    finally:
        engine.stop_spark()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
