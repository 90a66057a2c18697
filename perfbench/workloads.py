"""The workloads. Each runs the real engine, repeats one operation (a crawl
round, or a bulk admission batch), checks every repetition's output and
returns the raw figures; ``run.py`` turns them into metrics.

Every repetition does identical work: before an operation runs, the
previous repetition's snapshot commits are rolled back with the tables'
own ``rollback_newer_than`` (the crash-recovery path ``CrawlJob.bootstrap``
uses), so each repetition starts from the same checkpoint. Repetitions are
timed until ``seconds`` have passed; the first one runs in the cold JVM
set-up left behind.

Each workload runs with its work dir as the process's working directory
(``run.py`` sets it): the engine finds the checkpoint there at the relative
path ``inputs.CHECKPOINT``.

With ``trace=True`` the first (cold) repetition is traced and gives the
per-layer figures; warm untraced, traced and untraced repetitions follow
to measure the tracing overhead. With ``trace=False`` no span records anything and no
table method is wrapped.
"""

from __future__ import annotations

import os
import re
import statistics
import time
import traceback

from . import checks, engine, inputs
from .trace import Tracer

ADMIT_FATES = ("robots_blocked", "dedup_rejected", "cap_rejected", "admitted")
OPS = ("dedup", "robots_gate", "tag_seen", "admit_with_cap", "politeness_topk")
SNAPSHOT_SPANS = ("snapshot.commit_upsert", "snapshot.append", "snapshot.read",
                  "snapshot.meta")
GC_AFTER = re.compile(r"\d+M->(\d+)M\(\d+M\)")


class Run:
    """Figures gathered by one workload run."""

    def __init__(self):
        self.ops: list[dict] = []   # one per attempted operation
        self.setup: dict = {}
        self.inputs: dict = {}
        self.layer: dict = {}
        self.errors: list[str] = []
        self.memory_mb: dict = {}
        self.gc_ms = 0
        self.check_s: list[float] = []
        self.trace: Tracer | None = None

    def ok_ops(self) -> list[dict]:
        return [o for o in self.ops if o["ok"]]

    def overhead_s(self) -> float:
        """Wall of the warm traced repetition minus the mean of the untraced
        ones on either side of it, so the JVM's continuing warm-up biases
        the difference neither way."""
        if len(self.ops) < 4 or not all(o["ok"] for o in self.ops):
            return 0.0
        return self.ops[2]["wall"] - (self.ops[1]["wall"] + self.ops[3]["wall"]) / 2


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def jvm_gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection ("...->312M(2048M)"
    in the JVM's GC log). Not the live set: humongous and old-generation
    garbage that no marking cycle has reclaimed yet counts too, so the
    figure depends on when collections happen."""
    peak = 0
    with open(gc_log) as f:
        for m in GC_AFTER.finditer(f.read()):
            peak = max(peak, int(m.group(1)))
    return float(peak)


def memory_mb(spark, gc_log: str) -> dict:
    """Peak resident memory outside the fixed Java heap: the JVM's peak RSS
    above its pre-touched heap, plus the peak RSS of every process the JVM
    started (the Python worker daemon and its workers). The heap's own
    occupancy after collections is reported beside it."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rss = _vm_hwm_mb(jvm)
    out = {"jvm_rss_hwm": rss,
           "jvm_offheap": rss - engine.HEAP_MB,
           "heap_after_gc_peak": heap_after_gc_peak_mb(gc_log),
           "python_workers_rss": sum(_vm_hwm_mb(p) for p in _descendants(jvm))}
    out["rss_offheap"] = out["jvm_offheap"] + out["python_workers_rss"]
    return out


def _bucket_dirs(table) -> dict[int, str]:
    m = table.manifest()
    return {int(b): p for b, p in (m or {}).get("buckets", {}).items() if p}


def write_stats(before: dict[int, str], after: dict[int, str]) -> dict:
    """Files, bytes and rows a bucketed commit wrote: the bucket dirs the
    new manifest points at that the old one did not."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for p in set(after.values()) - set(before.values()):
        for d, _, fs in os.walk(p):
            for f in fs:
                if f.endswith(".parquet"):
                    full = os.path.join(d, f)
                    files += 1
                    nbytes += os.path.getsize(full)
                    rows += pq.ParquetFile(full).metadata.num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}


def _span_sums(tr: Tracer, idx: int) -> dict:
    sp = tr.spans[idx]
    out = {"wall": sp.wall, "self": tr.self_time(idx)}
    for a in ("jobs", "stages", "tasks", "busy_ms", "gc_ms", "shuffle_write_bytes"):
        out[a] = tr.inclusive(idx, a)
    for cat in SNAPSHOT_SPANS:
        out[cat] = sum(tr.spans[i].wall for i in tr.outermost(idx, cat))
    return out


def _measure(run: Run, tr: Tracer, seconds: float, trace: bool, op) -> None:
    """Time repetitions until `seconds` have passed (at least one). The first
    runs right after set-up in a cold JVM, as in a process that resumes a
    checkpoint for one round and exits. With tracing, that first repetition
    is traced, and warm untraced, traced and untraced repetitions follow to
    measure the tracing overhead. `op(traced)` resets, runs and checks one
    repetition and returns its record with at least ``wall`` and ``ok``."""
    plan = (True, False, True, False)
    t_loop = time.perf_counter()
    while True:
        traced = trace and plan[len(run.ops)]
        tr.enabled = traced
        try:
            rec = op(traced)
        finally:
            tr.enabled = False
        rec["traced"] = traced
        run.ops.append(rec)
        if not rec["ok"]:
            return
        if trace:
            if len(run.ops) == len(plan):
                return
        elif time.perf_counter() - t_loop >= seconds:
            return


def _fail(rec: dict, run: Run, msgs: list[str]) -> dict:
    if msgs:
        rec["ok"] = False
        run.errors.extend(msgs)
    return rec


# ---------------------------------------------------------------------------
# crawl_steady / crawl_fresh
# ---------------------------------------------------------------------------


def run_crawl(get_spark, work: str, seed: int, seconds: float, trace: bool,
              steady: bool, sz: inputs.CrawlSizes = inputs.CrawlSizes()) -> Run:
    from pyspark.sql import functions as F

    from smartcrawler_spark.plans.crawl import CrawlJob

    run = Run()
    crawl_dir, meta = inputs.crawl_inputs(seed, sz)
    run.inputs = dict(meta)
    expected = inputs.load_expected(crawl_dir)
    cfg = inputs.engine_config(sz)
    tr = Tracer(enabled=trace)
    ck = inputs.CHECKPOINT

    digest0 = None
    if steady:
        steady_dir, smeta = inputs.steady_inputs(sz, crawl_dir)
        run.inputs["generate_s"] = (meta["generate_s"] + smeta["generate_s"]
                                    + smeta["history_generate_s"])
        run.inputs["mb"] = meta["mb"] + smeta["mb"]
        run.inputs["history_rows"] = smeta["history_rows"]
        run.inputs["checkpoint_cache_hit"] = smeta["cache_hit"]
        digest0 = tuple(inputs.load_expected(steady_dir)["history_digest"])
        ck = inputs.copy_checkpoint(steady_dir, work)

    t0 = time.perf_counter()
    with tr.span("session.get_spark", spark_jobs=False):
        spark = get_spark()
    run.setup["get_spark_s"] = time.perf_counter() - t0
    tr.bind(spark)
    cores = spark.sparkContext.defaultParallelism

    t0 = time.perf_counter()
    with tr.span("crawl.construct"):
        job = CrawlJob(spark, os.path.join(crawl_dir, "corpus"), ck, cfg,
                       expected["seeds"])
    tables = [job.t_frontier, job.t_log, job.t_metrics, job.t_filters,
              job.t_mirrors, job.t_traps, job.t_hoststats, job.t_hostrank]
    if trace:
        for t in tables:
            tr.instrument_table(t)
    t1 = time.perf_counter()
    with tr.span("crawl.bootstrap"):
        start = job.bootstrap()
    run.setup["construct_s"] = t1 - t0
    run.setup["bootstrap_s"] = time.perf_counter() - t1
    run.setup["setup_s"] = run.setup["get_spark_s"] + time.perf_counter() - t0

    r = start + 1
    want_log, want_front = checks.oracle_state_at(expected, r)

    def op(traced: bool) -> dict:
        for tbl in tables:  # back to the checkpoint the round started from
            tbl.rollback_newer_than(start)
        rec = {"ok": True, "round": r}
        before = _bucket_dirs(job.t_frontier) if traced else None
        t = time.perf_counter()
        try:
            with tr.span("crawl.round", round=r) as sp:
                out = job.run_round(r)
            rec["wall"] = time.perf_counter() - t
            tr.enabled = False
            rec["scheduled"] = out["scheduled"]
            if traced:
                rec["trace"] = _span_sums(tr, tr.spans.index(sp))
                rec["trace"]["write"] = write_stats(before, _bucket_dirs(job.t_frontier))
            tc = time.perf_counter()
            rec["fates"] = {
                x["fate"]: int(x["n"]) for x in job.metrics()
                .filter(F.col("round") == r).groupBy("fate")
                .agg(F.sum("n").alias("n")).collect()}
            rec["candidates"] = sum(rec["fates"].get(k, 0) for k in ADMIT_FATES)
            log = [(int(x["round"]), int(x["seq"]), x["url_canon"]) for x in
                   job.crawl_log().select("round", "seq", "url_canon").collect()]
            front_df = job.frontier()
            front = {x["url_canon"]: (x["host"], x["status"], x["title"])
                     for x in front_df.filter(~F.col("host").startswith("hist"))
                     .select("url_canon", "host", "status", "title").collect()}
            msgs = [m for ms in checks.crawl_log_mismatches(log, want_log).values()
                    for m in ms]
            msgs += checks.frontier_mismatches(front, want_front)
            run.check_s.append(time.perf_counter() - tc)
        except Exception:  # noqa: BLE001 — a failed round is counted, not fatal
            rec.setdefault("wall", time.perf_counter() - t)
            rec.setdefault("scheduled", 0)
            msgs = [f"round {r}: {traceback.format_exc()}"]
        return _fail(rec, run, msgs)

    gc0 = jvm_gc_ms(spark)
    _measure(run, tr, seconds, trace, op)
    run.gc_ms = jvm_gc_ms(spark) - gc0
    run.memory_mb = memory_mb(spark, engine.gc_log_path(work))
    if steady and run.ops[-1]["ok"]:
        # every repetition rewrote every bucket; the last one's commit is
        # still in place: the history rows must have come through unchanged
        _fail(run.ops[-1], run, checks.digest_mismatches(
            "history rows", inputs.history_digest(job.frontier()), digest0))
    if trace:
        _crawl_layers(run, cores)
        run.trace = tr
    return run


def _crawl_layers(run: Run, cores: int) -> None:
    ops = run.ops[:1]
    t = [o for o in ops if "trace" in o]
    x = [o["trace"] for o in t]
    fate = lambda k: _mean(o["fates"].get(k, 0) for o in ops)  # noqa: E731
    changed = [sum(o["fates"].get(k, 0) for k in ("fetch_success", "fetch_failed",
                                                   "admitted")) for o in t]
    rewritten = [s["write"]["rows"] for s in x]
    L = run.layer
    L["crawl.round_self_s"] = _mean(s["self"] for s in x)
    L["crawl.jobs_per_round"] = _mean(s["jobs"] for s in x)
    L["crawl.stages_per_round"] = _mean(s["stages"] for s in x)
    L["crawl.tasks_per_round"] = _mean(s["tasks"] for s in x)
    L["crawl.busy_ms_per_round"] = _mean(s["busy_ms"] for s in x)
    L["crawl.busy_frac"] = _mean(s["busy_ms"] / (1000 * s["wall"] * cores) for s in x)
    L["crawl.gc_ms_per_round"] = _mean(s["gc_ms"] for s in x)
    L["crawl.shuffle_bytes_per_round"] = _mean(s["shuffle_write_bytes"] for s in x)
    L["crawl.scheduled_per_round"] = _mean(o["scheduled"] for o in ops)
    L["crawl.fetch_success_per_round"] = fate("fetch_success")
    L["crawl.fetch_failed_per_round"] = fate("fetch_failed")
    L["crawl.links_per_round"] = _mean(o["candidates"] for o in ops)
    for k in ADMIT_FATES:
        L[f"crawl.{k}_per_round"] = fate(k)
    L["crawl.admit_ratio"] = (L["crawl.admitted_per_round"] / L["crawl.links_per_round"]
                              if L["crawl.links_per_round"] else 0.0)
    L["snapshot.commit_upsert_s"] = _mean(s["snapshot.commit_upsert"] for s in x)
    L["snapshot.rows_rewritten_per_round"] = _mean(rewritten)
    L["snapshot.rows_changed_per_round"] = _mean(changed)
    L["snapshot.useful_write_ratio"] = (sum(changed) / sum(rewritten)
                                        if sum(rewritten) else 0.0)
    L["snapshot.bytes_written_per_round"] = _mean(s["write"]["bytes"] for s in x)
    L["snapshot.files_written_per_round"] = _mean(s["write"]["files"] for s in x)
    L["snapshot.append_s"] = _mean(s["snapshot.append"] for s in x)
    L["snapshot.meta_s"] = _mean(s["snapshot.meta"] for s in x)
    L["snapshot.read_s"] = _mean(s["snapshot.read"] for s in x)


# ---------------------------------------------------------------------------
# admit_bulk
# ---------------------------------------------------------------------------


def _admit_batch(spark, tr: Tracer, table, raw, robots, budgets,
                 sz: inputs.AdmitSizes, materialize: bool) -> dict:
    """One bulk admission in CrawlJob._admit's plain-path order, then the
    schedule hand-off and the commit. `materialize` adds a count after each
    operator so each gets its own span time."""
    from pyspark.sql import functions as F

    from smartcrawler_spark.operators import frontier as FR

    out: dict = {}
    handles = []

    def step(name, df, persist=True):
        if persist:
            df = df.persist()
            handles.append(df)
        if materialize:
            out[name] = df.count()
        return df

    frontier = table.read(spark)
    with tr.span("frontier.dedup"):
        cands = step("dedup", FR.with_url_columns_deduped(raw, "url", dict(sz.keywords)),
                     persist=materialize)
    with tr.span("frontier.robots_gate"):
        gated = step("robots_gate", FR.robots_gate(cands, robots))
    with tr.span("frontier.tag_seen"):
        tagged = step("tag_seen", FR.tag_seen(gated, frontier))
    with tr.span("frontier.admit_with_cap"):
        capped = step("admit_with_cap", FR.admit_with_cap(tagged, frontier, sz.cap))
    admitted = capped.filter("admitted").select(
        "url_canon", "url_hash", "host", "is_root", "score")
    with tr.span("frontier.politeness_topk"):
        out["scheduled_urls"] = [
            x[0] for x in FR.politeness_topk(admitted, budgets, sz.budget)
            .select("url_canon").collect()]
    with tr.span("frontier.commit"):
        new_rows = admitted.select(
            *admitted.columns, F.lit("PENDING").alias("status"),
            F.lit(1).alias("round_added"), F.lit(None).cast("int").alias("round_fetched"),
            F.lit(None).cast("string").alias("title"))
        bkt = table.bucket_expr()
        changed = [x["b"] for x in new_rows.select(bkt.alias("b")).distinct().collect()]
        merged = table.read_buckets(spark, changed).unionByName(new_rows)
        table.commit_upsert(merged, changed, meta={"round": 1, "source": "perfbench"})
    if materialize:
        fate = (F.when(F.col("robots_blocked"), "robots_blocked")
                .when(F.col("seen"), "dedup_rejected")
                .when(F.col("admitted"), "admitted").otherwise("cap_rejected"))
        out["fates"] = {x["fate"]: int(x["n"]) for x in capped.groupBy(
            fate.alias("fate")).agg(F.count("*").alias("n")).collect()}
    for h in handles:
        h.unpersist()
    return out


def run_admit(get_spark, work: str, seed: int, seconds: float, trace: bool,
              sz: inputs.AdmitSizes = inputs.AdmitSizes()) -> Run:
    from pyspark.sql import functions as F

    from smartcrawler_spark.sources.snapshot import BucketedSnapshotTable

    run = Run()
    admit_dir, meta = inputs.admit_inputs(seed, sz)
    front_dir, fmeta = inputs.admit_frontier(sz)
    run.inputs = dict(meta)
    run.inputs["generate_s"] = meta["generate_s"] + fmeta["generate_s"]
    run.inputs["mb"] = meta["mb"] + fmeta["mb"]
    expected = inputs.load_expected(admit_dir)
    want_admitted = set(expected["admitted"])
    want_scheduled = set(expected["scheduled"])
    tr = Tracer(enabled=trace)
    ck = inputs.copy_checkpoint(front_dir, work)

    t0 = time.perf_counter()
    with tr.span("session.get_spark", spark_jobs=False):
        spark = get_spark()
    run.setup["get_spark_s"] = time.perf_counter() - t0
    tr.bind(spark)
    cores = spark.sparkContext.defaultParallelism

    t0 = time.perf_counter()
    with tr.span("admit.load"):
        table = BucketedSnapshotTable(ck, "frontier", n_buckets=inputs.frontier_buckets(),
                                      key_col="url_hash")
        raw = spark.read.parquet(os.path.join(admit_dir, "raw"))
        robots = spark.read.parquet(os.path.join(admit_dir, "robots.parquet"))
        budgets = spark.read.parquet(os.path.join(admit_dir, "politeness.parquet"))
    run.setup["load_s"] = time.perf_counter() - t0
    run.setup["setup_s"] = run.setup["get_spark_s"] + run.setup["load_s"]
    if trace:
        tr.instrument_table(table)

    def op(traced: bool) -> dict:
        rec = {"ok": True, "candidates": meta["raw_urls"]}
        before = _bucket_dirs(table)
        t = time.perf_counter()
        try:
            with tr.span("admit.batch") as sp:
                res = _admit_batch(spark, tr, table, raw, robots, budgets, sz,
                                   materialize=traced)
            rec["wall"] = time.perf_counter() - t
            tr.enabled = False
            rec["scheduled"] = len(res["scheduled_urls"])
            if traced:
                idx = tr.spans.index(sp)
                rec["trace"] = _span_sums(tr, idx)
                rec["trace"]["write"] = write_stats(before, _bucket_dirs(table))
                rec["trace"]["res"] = {k: v for k, v in res.items()
                                       if k != "scheduled_urls"}
                rec["trace"]["ops"] = {}
                for name in OPS:
                    (i,) = [c for c in tr.children(idx)
                            if tr.spans[c].name == f"frontier.{name}"]
                    rec["trace"]["ops"][name] = {
                        "s": tr.spans[i].wall,
                        "shuffle_bytes": tr.inclusive(i, "shuffle_write_bytes"),
                        "busy_ms": tr.inclusive(i, "busy_ms")}
            # committed inserts and the handed-out schedule
            tc = time.perf_counter()
            got = {x[0] for x in table.read(spark).filter(F.col("round_added") == 1)
                   .select("url_canon").collect()}
            msgs = checks.set_mismatches("admitted", got, want_admitted)
            msgs += checks.set_mismatches("scheduled", set(res["scheduled_urls"]),
                                          want_scheduled)
            if len(res["scheduled_urls"]) != len(want_scheduled):
                msgs.append("scheduled list has duplicates")
            if table.row_count_estimate() != meta["seen_urls"] + len(want_admitted):
                msgs.append("frontier row count after commit is wrong")
            run.check_s.append(time.perf_counter() - tc)
        except Exception:  # noqa: BLE001 — a failed batch is counted, not fatal
            rec.setdefault("wall", time.perf_counter() - t)
            rec.setdefault("scheduled", 0)
            msgs = [traceback.format_exc()]
        finally:
            tr.enabled = False
            table.rollback_newer_than(0)  # every batch starts from the same frontier
        return _fail(rec, run, msgs)

    gc0 = jvm_gc_ms(spark)
    _measure(run, tr, seconds, trace, op)
    run.gc_ms = jvm_gc_ms(spark) - gc0
    run.memory_mb = memory_mb(spark, engine.gc_log_path(work))
    if trace:
        _admit_layers(run, cores)
        run.trace = tr
    return run


def _admit_layers(run: Run, cores: int) -> None:
    x = [o["trace"] for o in run.ops[:1] if "trace" in o]
    L = run.layer
    for name in OPS:
        L[f"frontier.{name}_s"] = _mean(s["ops"][name]["s"] for s in x)
        L[f"frontier.{name}.shuffle_bytes"] = _mean(
            s["ops"][name]["shuffle_bytes"] for s in x)
        L[f"frontier.{name}.busy_ms"] = _mean(s["ops"][name]["busy_ms"] for s in x)
    L["frontier.raw_urls"] = run.inputs["raw_urls"]
    L["frontier.distinct_urls"] = _mean(s["res"]["dedup"] for s in x)
    for k in ADMIT_FATES:
        L[f"frontier.{k}"] = _mean(s["res"]["fates"].get(k, 0) for s in x)
    L["frontier.scheduled"] = _mean(o["scheduled"] for o in run.ops[:1])
    L["frontier.admit_ratio"] = L["frontier.admitted"] / L["frontier.raw_urls"]
    L["snapshot.commit_upsert_s"] = _mean(s["snapshot.commit_upsert"] for s in x)
    L["snapshot.rows_rewritten_per_round"] = _mean(s["write"]["rows"] for s in x)
    L["snapshot.rows_changed_per_round"] = L["frontier.admitted"]
    rew = L["snapshot.rows_rewritten_per_round"]
    L["snapshot.useful_write_ratio"] = L["frontier.admitted"] / rew if rew else 0.0
    L["snapshot.bytes_written_per_round"] = _mean(s["write"]["bytes"] for s in x)
    L["snapshot.files_written_per_round"] = _mean(s["write"]["files"] for s in x)
    L["snapshot.append_s"] = _mean(s["snapshot.append"] for s in x)
    L["snapshot.meta_s"] = _mean(s["snapshot.meta"] for s in x)
    L["snapshot.read_s"] = _mean(s["snapshot.read"] for s in x)
    L["admit.batch_busy_frac"] = _mean(s["busy_ms"] / (1000 * s["wall"] * cores)
                                       for s in x)

