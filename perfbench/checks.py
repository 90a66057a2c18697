"""Output checks. Every function here is pure Python over plain values, so
the benchmark's own tests can feed it corrupted outputs.

Expected values come from the program's pure-Python oracle
(``smartcrawler_spark.oracle``): ``oracle.crawl`` for the crawl workloads,
and, for bulk admission, an independent computation built on the oracle's
spec kernels (``canon``, ``score_url``, ``is_root``).
"""

from __future__ import annotations

from smartcrawler_spark import oracle
from smartcrawler_spark.functions.relevance import score_url

# ---------------------------------------------------------------------------
# crawl workloads
# ---------------------------------------------------------------------------


def oracle_state_at(expected: dict, rounds: int) -> tuple[list, dict]:
    """The oracle's crawl log and frontier after `rounds` rounds, derived
    from one ``oracle.crawl`` run with more rounds. In the default engine
    configuration (no refresh, no retry) a row is admitted once and fetched
    at most once, so the state after round R is: rows admitted by R, with
    status and title reverted to PENDING/None if they were fetched after R.

    `expected` holds ``crawl_log`` [(round, seq, url)] and ``frontier``
    {url: [host, status, title, round_added, round_fetched]}."""
    if rounds > expected["max_rounds"]:
        raise ValueError(
            f"{rounds} rounds run, oracle only covers {expected['max_rounds']}")
    log = [tuple(t) for t in expected["crawl_log"] if t[0] <= rounds]
    front = {}
    for url, (host, status, title, added, fetched) in expected["frontier"].items():
        if added > rounds:
            continue
        if fetched is None or fetched > rounds:
            status, title = "PENDING", None
        front[url] = (host, status, title)
    return log, front


def crawl_log_mismatches(got: list, want: list) -> dict[int, list[str]]:
    """Per-round differences between two lists of (round, seq, url_canon)
    tuples. Returns {round: [message, ...]} for every round that differs."""
    by_round: dict[int, tuple[list, list]] = {}
    for t in got:
        by_round.setdefault(int(t[0]), ([], []))[0].append(tuple(t))
    for t in want:
        by_round.setdefault(int(t[0]), ([], []))[1].append(tuple(t))
    out: dict[int, list[str]] = {}
    for r, (g, w) in sorted(by_round.items()):
        g, w = sorted(g), sorted(w)
        if g == w:
            continue
        msgs = [f"round {r}: {len(g)} log rows, oracle has {len(w)}"]
        for a, b in zip(g, w):
            if a != b:
                msgs.append(f"round {r}: first difference {a} != {b}")
                break
        out[r] = msgs
    return out


def frontier_mismatches(got: dict, want: dict, limit: int = 5) -> list[str]:
    """Differences between two {url_canon: (host, status, title)} maps."""
    msgs = []
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    if missing:
        msgs.append(f"{len(missing)} frontier rows missing, e.g. {missing[:limit]}")
    if extra:
        msgs.append(f"{len(extra)} unexpected frontier rows, e.g. {extra[:limit]}")
    diff = [u for u in sorted(set(got) & set(want))
            if tuple(got[u]) != tuple(want[u])]
    if diff:
        u = diff[0]
        msgs.append(f"{len(diff)} frontier rows differ, e.g. {u}: "
                    f"{tuple(got[u])} != {tuple(want[u])}")
    return msgs


def digest_mismatches(name: str, got: tuple, want: tuple) -> list[str]:
    """Compare two (row count, content hash sum) digests of a table slice."""
    if tuple(got) == tuple(want):
        return []
    return [f"{name} changed: digest {tuple(got)} != {tuple(want)}"]


# ---------------------------------------------------------------------------
# bulk admission
# ---------------------------------------------------------------------------


def _order_key(url: str, keywords: dict[str, float]):
    return (-int(oracle.is_root(url)), -score_url(url, keywords), url)


def expected_admission(raw_urls: list[str], seen: set[str],
                       seen_per_host: dict[str, int],
                       disallow: dict[str, list[str]], cap: int,
                       budgets: dict[str, int], default_budget: int,
                       keywords: dict[str, float]) -> tuple[set, set]:
    """Admitted and scheduled url_canon sets for one bulk admission:
    canonicalize + dedup, robots prefix gate, seen gate, per-host cap in
    (is_root desc, score desc, url_canon asc) order against the host's
    existing frontier rows, then the per-host politeness top-budget of
    the admitted rows in the same order."""
    by_host: dict[str, list[str]] = {}
    for u in {oracle.canon(r) for r in raw_urls if r}:
        h = oracle.host_of(u)
        path = oracle.path_of(u)
        if any(path.startswith(p) for p in disallow.get(h, ())):
            continue
        if u in seen:
            continue
        by_host.setdefault(h, []).append(u)
    admitted: set[str] = set()
    scheduled: set[str] = set()
    for h, cands in by_host.items():
        cands.sort(key=lambda u: _order_key(u, keywords))
        room = max(0, cap - seen_per_host.get(h, 0))
        won = cands[:room]
        admitted.update(won)
        scheduled.update(won[: budgets.get(h, default_budget)])
    return admitted, scheduled


def set_mismatches(name: str, got: set, want: set, limit: int = 5) -> list[str]:
    msgs = []
    missing = sorted(want - got)
    extra = sorted(got - want)
    if missing:
        msgs.append(f"{name}: {len(missing)} missing, e.g. {missing[:limit]}")
    if extra:
        msgs.append(f"{name}: {len(extra)} unexpected, e.g. {extra[:limit]}")
    return msgs
