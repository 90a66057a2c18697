"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 5 --trace 0

Runs one workload on the real engine (``local[nproc]``), checks every
operation's output against the pure-Python oracle, and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (see perfbench/README.md). The line before it is a
report with the environment, input sizes and the raw per-operation figures;
the same report, and with ``--trace 1`` the spans, are written under
``perfbench/.work/``. Exits non-zero if any operation failed or its output
was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("crawl_steady", "admit_bulk", "crawl_fresh")

END_TO_END = {
    "setup_s": "s",
    "crawl_pages_per_s": "pages/s",
    "round_s_p50": "s",
    "admit_urls_per_s": "URLs/s",
    "peak_rss_offheap_mb": "MB",
}

_OPS = ("dedup", "robots_gate", "tag_seen", "admit_with_cap", "politeness_topk")
PER_LAYER = {
    "session.get_spark_s": "s",
    "crawl.construct_s": "s",
    "crawl.bootstrap_s": "s",
    "crawl.round_self_s": "s",
    "crawl.jobs_per_round": "count",
    "crawl.stages_per_round": "count",
    "crawl.tasks_per_round": "count",
    "crawl.busy_ms_per_round": "ms",
    "crawl.busy_frac": "ratio",
    "crawl.gc_ms_per_round": "ms",
    "crawl.shuffle_bytes_per_round": "bytes",
    "crawl.scheduled_per_round": "count",
    "crawl.fetch_success_per_round": "count",
    "crawl.fetch_failed_per_round": "count",
    "crawl.links_per_round": "count",
    "crawl.robots_blocked_per_round": "count",
    "crawl.dedup_rejected_per_round": "count",
    "crawl.cap_rejected_per_round": "count",
    "crawl.admitted_per_round": "count",
    "crawl.admit_ratio": "ratio",
    "snapshot.commit_upsert_s": "s",
    "snapshot.rows_rewritten_per_round": "count",
    "snapshot.rows_changed_per_round": "count",
    "snapshot.useful_write_ratio": "ratio",
    "snapshot.bytes_written_per_round": "bytes",
    "snapshot.files_written_per_round": "count",
    "snapshot.append_s": "s",
    "snapshot.meta_s": "s",
    "snapshot.read_s": "s",
    **{f"frontier.{op}_s": "s" for op in _OPS},
    **{f"frontier.{op}.shuffle_bytes": "bytes" for op in _OPS},
    **{f"frontier.{op}.busy_ms": "ms" for op in _OPS},
    "frontier.raw_urls": "count",
    "frontier.distinct_urls": "count",
    "frontier.robots_blocked": "count",
    "frontier.dedup_rejected": "count",
    "frontier.cap_rejected": "count",
    "frontier.admitted": "count",
    "frontier.scheduled": "count",
    "frontier.admit_ratio": "ratio",
    "admit.batch_busy_frac": "ratio",
    "jvm.gc_ms": "ms",
    "jvm.heap_after_gc_peak_mb": "MB",
    "jvm.offheap_mb": "MB",
    "jvm.rss_hwm_mb": "MB",
    "python.workers_rss_mb": "MB",
    "oracle.check_s": "s",
    "trace.overhead_s": "s",
    "inputs.generate_s": "s",
    "inputs.mb": "MB",
}


def _psi() -> dict:
    out = {}
    for res in ("cpu", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                out[res] = f.read().strip().splitlines()
        except OSError:
            out[res] = None
    return out


def _cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of the VM's CPU time the hypervisor gave to other guests
    between two readings: a co-tenant burst shows here even when the run's
    own threads dominate PSI."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after[:8]) - sum(before[:8])
    return (after[7] - before[7]) / total if total > 0 else None


def end_to_end(run) -> dict:
    ops = run.ok_ops()
    walls = [op["wall"] for op in ops]
    total = sum(walls)
    return {
        "setup_s": run.setup["setup_s"],
        "crawl_pages_per_s": sum(op["scheduled"] for op in ops) / total if total else 0.0,
        "round_s_p50": statistics.median(walls) if walls else 0.0,
        "admit_urls_per_s": sum(op["candidates"] for op in ops) / total if total else 0.0,
        "peak_rss_offheap_mb": run.memory_mb.get("rss_offheap", 0.0),
    }


def per_layer(run) -> dict:
    L = {k: 0.0 for k in PER_LAYER}
    L.update(run.layer)
    for name, key in (("session.get_spark", "session.get_spark_s"),
                      ("crawl.construct", "crawl.construct_s"),
                      ("crawl.bootstrap", "crawl.bootstrap_s")):
        walls = [s.wall for s in run.trace.spans if s.name == name]
        if walls:
            L[key] = walls[0]
    L["trace.overhead_s"] = run.overhead_s()
    L["jvm.gc_ms"] = run.gc_ms
    L["jvm.heap_after_gc_peak_mb"] = run.memory_mb.get("heap_after_gc_peak", 0.0)
    L["jvm.offheap_mb"] = run.memory_mb.get("jvm_offheap", 0.0)
    L["jvm.rss_hwm_mb"] = run.memory_mb.get("jvm_rss_hwm", 0.0)
    L["python.workers_rss_mb"] = run.memory_mb.get("python_workers_rss", 0.0)
    L["oracle.check_s"] = statistics.fmean(run.check_s) if run.check_s else 0.0
    L["inputs.generate_s"] = run.inputs.get("generate_s", 0.0)
    L["inputs.mb"] = run.inputs.get("mb", 0.0)
    return L


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="run on local[N] instead of local[nproc]")
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import smartcrawler_spark  # noqa: F401,PLC0415 — fail fast without the program

    from perfbench import engine, workloads  # noqa: PLC0415

    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = engine.configure(work, a.cores)
    env["warm_up"] = ("none: the first timed operation runs right after set-up "
                      "in the cold JVM; every operation repeats the same work "
                      "from the same checkpoint")
    psi_before = _psi()
    ticks_before = _cpu_ticks()
    t_start = time.perf_counter()
    get_spark = engine.spark_factory(work)
    trace = bool(a.trace)
    # the engine addresses its checkpoint relative to the run's work dir
    os.chdir(work)
    try:
        if a.workload == "admit_bulk":
            run = workloads.run_admit(get_spark, work, a.seed, a.seconds, trace)
        else:
            run = workloads.run_crawl(get_spark, work, a.seed, a.seconds, trace,
                                      steady=a.workload == "crawl_steady")
    finally:
        engine.stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    psi_after = _psi()
    steal = _steal_frac(ticks_before, _cpu_ticks())

    attempted = max(1, len(run.ops))
    failed = sum(1 for op in run.ops if not op["ok"]) or (1 if run.errors else 0)
    units = PER_LAYER if trace else END_TO_END
    values = per_layer(run) if trace else end_to_end(run)
    walls = [op["wall"] for op in run.ok_ops()]
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "environment": env,
        "psi_before": psi_before, "psi_after": psi_after, "cpu_steal_frac": steal,
        "inputs": run.inputs, "setup": run.setup, "memory_mb": run.memory_mb,
        # fewer than 11 samples support no percentile above the median:
        # the maximum is reported with the count instead
        "op_wall_s": {"n": len(walls), "p50": statistics.median(walls) if walls else None,
                      "max": max(walls) if walls else None},
        "metrics": values, "ops": run.ops, "check_s": run.check_s,
        "errors": run.errors[:20],
        "run_wall_s": time.perf_counter() - t_start,
    }
    os.makedirs(WORK, exist_ok=True)
    stem = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}")
    with open(stem + ".report.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if run.trace is not None:
        run.trace.dump(stem + ".spans.json")
    for e in run.errors[:5]:
        print(f"ERROR: {e}", file=sys.stderr)
    summary = {k: report[k] for k in ("workload", "seed", "setup", "op_wall_s",
                                      "psi_before", "psi_after", "cpu_steal_frac",
                                      "run_wall_s")}
    summary["inputs"] = run.inputs
    print(json.dumps({"report": summary}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
