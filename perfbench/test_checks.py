"""Tests of the benchmark's own output checks: each must pass on the
oracle's output and fail on a corrupted copy of it. Pure Python, no JVM.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from smartcrawler_spark import oracle  # noqa: E402
from smartcrawler_spark.sources.corpus import CorpusConfig, generate_corpus  # noqa: E402


@pytest.fixture(scope="module")
def expected(tmp_path_factory):
    """A small corpus crawled by the oracle, in the cached expected.json
    shape the crawl workloads compare against."""
    d = str(tmp_path_factory.mktemp("corpus"))
    m = generate_corpus(d, CorpusConfig(seed=5, n_hosts=6, pages_per_host=12,
                                        hot_host_pages=30))
    res = oracle.crawl(d, m["seeds"], oracle.CrawlConfig(
        keywords={"news": 2.0}, max_urls_per_host=100, max_rounds=4))
    return {"max_rounds": 4, "crawl_log": res.crawl_log,
            "frontier": {u: [r["host"], r["status"], r["title"],
                             r["round_added"], r["round_fetched"]]
                         for u, r in res.frontier.items()}}


def test_oracle_output_passes(expected):
    log, front = checks.oracle_state_at(expected, 3)
    assert log and all(r <= 3 for r, _, _ in log)
    assert checks.crawl_log_mismatches(list(log), log) == {}
    assert checks.frontier_mismatches(dict(front), front) == []


def test_state_at_reverts_later_fetches(expected):
    _, front1 = checks.oracle_state_at(expected, 1)
    fetched_later = [u for u, r in expected["frontier"].items()
                     if r[3] <= 1 and r[4] is not None and r[4] > 1]
    assert fetched_later
    assert all(front1[u][1:] == ("PENDING", None) for u in fetched_later)
    with pytest.raises(ValueError):
        checks.oracle_state_at(expected, 5)


def test_swapped_crawl_log_rows_fail(expected):
    log, _ = checks.oracle_state_at(expected, 3)
    got = list(log)
    i = next(k for k in range(len(got) - 1)
             if got[k][0] == 2 and got[k + 1][0] == 2)
    (r, s1, u1), (_, s2, u2) = got[i], got[i + 1]
    got[i], got[i + 1] = (r, s1, u2), (r, s2, u1)
    bad = checks.crawl_log_mismatches(got, log)
    assert list(bad) == [2]


def test_missing_or_extra_log_row_fails(expected):
    log, _ = checks.oracle_state_at(expected, 3)
    assert list(checks.crawl_log_mismatches(log[:-1], log)) == [log[-1][0]]
    assert checks.crawl_log_mismatches(log + [(3, 10_000, "https://x/")], log)


def test_corrupted_frontier_fails(expected):
    _, front = checks.oracle_state_at(expected, 3)
    u = next(u for u, v in front.items() if v[1] == "SUCCESS")
    changed = dict(front)
    changed[u] = (front[u][0], "FAILED", front[u][2])
    assert checks.frontier_mismatches(changed, front)
    dropped = dict(front)
    del dropped[u]
    assert checks.frontier_mismatches(dropped, front)
    retitled = dict(front)
    retitled[u] = (front[u][0], front[u][1], "other title")
    assert checks.frontier_mismatches(retitled, front)


def test_history_digest_mismatch_fails():
    assert checks.digest_mismatches("history", (3, 10), (3, 10)) == []
    assert checks.digest_mismatches("history", (3, 11), (3, 10))
    assert checks.digest_mismatches("history", (2, 10), (3, 10))


def _admission_case():
    raw = ["HTTPS://a.example/news/item1", "https://A.EXAMPLE:443/news/item1",
           "https://a.example/", "https://a.example/docs/x", "https://a.example/blog/y",
           "http://a.example/private/p1", "https://b.example/news/z",
           "https://b.example/old"]
    seen = {"https://b.example/old"}
    kw = {"news": 2.0}
    return raw, seen, kw


def test_expected_admission_rules():
    raw, seen, kw = _admission_case()
    admitted, scheduled = checks.expected_admission(
        raw, seen, {"b.example": 1}, {"a.example": ["/private"]}, cap=3,
        budgets={"a.example": 2}, default_budget=1, keywords=kw)
    # a.example: private blocked; cap 3 keeps root first, then news (score 2),
    # then the lexicographically first zero-score URL
    assert admitted == {"https://a.example/", "https://a.example/news/item1",
                        "https://a.example/blog/y", "https://b.example/news/z"}
    assert scheduled == {"https://a.example/", "https://a.example/news/item1",
                         "https://b.example/news/z"}


def test_dropped_admitted_url_fails():
    raw, seen, kw = _admission_case()
    admitted, _ = checks.expected_admission(
        raw, seen, {}, {}, cap=10, budgets={}, default_budget=10, keywords=kw)
    got = set(admitted)
    got.pop()
    assert checks.set_mismatches("admitted", got, admitted)
    assert checks.set_mismatches("admitted", admitted | {"https://c.example/"}, admitted)
    assert checks.set_mismatches("admitted", set(admitted), admitted) == []
