"""Benchmark of the combblas_spark link-graph engine.

    python3 perfbench/run.py --workload rmat --seed 1 --seconds 10 --trace 0

Runs one workload in one process at local[nproc]: it sets up three times
(fresh SparkSession, input generation and persist), warms the graph code
paths up once on the real inputs, and reports ``setup_s`` as the median
set-up plus the warm-up. It then repeats the workload's timed round until
``--seconds`` have passed (at least once), checking every output against
an oracle that does not use Spark, and reports medians over the samples.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics, folded from Spark's event log.
The line before it holds the full detail: every sample with quartiles
and count, every layer of every module, the oracle checks and the host.

Run from the repository root; everything the run writes stays under
``.perfbench_work/`` there and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

SETUP_REPS = 3
# span labels outside the timed rounds start with one of these
PHASES = ("setup", "warmup", "probe")

STAT_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "task_time_s": "s",
    "gc_s": "s",
    "task_skew": "ratio",
    "driver_gap_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "pagerank_s": "s",
    "pagerank_eps": "edges/s",
    "cc_s": "s",
    "round_s": "s",
    "peak_rss_mb": "MB",
    # crawl_suite only, so in the detail line but not in BENCHMARK.json
    "suite_s": "s",
    "ingest_pages_per_s": "pages/s",
    "checkpointed_pagerank_s": "s",
    "resume_s": "s",
}
EXTRA_LAYER_UNITS = {
    "session.wall_s": "s",
    "algorithms.pagerank.setup_s": "s",
    "algorithms.pagerank.supersteps": "count",
    "algorithms.pagerank.finish_s": "s",
    "algorithms.components.supersteps": "count",
    "baseline.numpy_pagerank_s": "s",
}
REFERENCE_GOLDEN = ("not checked: the CombBLAS reference checkout is absent, so "
                    "reference-golden parity is unverified (ROADMAP A3)")


def _layer_metrics(layers: dict, s, rounds: int) -> dict:
    """Every per-layer metric of the layers the timed rounds called, per
    round, plus the named extras."""
    out = {}
    for layer, rec in layers.items():
        if layer.split(".")[0] in PHASES:
            continue
        for stat, unit in STAT_UNITS.items():
            value = rec[stat] if stat == "task_skew" else rec[stat] / rounds
            out[f"{layer}.{stat}"] = (value, unit)
    v = s.values
    for name, unit in EXTRA_LAYER_UNITS.items():
        if v.get(name):
            out[name] = (statistics.median(v[name]), unit)
    out["algorithms.pagerank.superstep_median_s"] = (statistics.median(v["superstep_s"]), "s")
    out["algorithms.pagerank.superstep_max_s"] = (max(v["superstep_s"]), "s")
    # set-up (its own n_iter=0 call), the supersteps and the finish
    accounted = sum(statistics.median(v[f"algorithms.pagerank.{part}_s"])
                    for part in ("setup", "supersteps", "finish"))
    out["algorithms.pagerank.accounted_share"] = (
        accounted / statistics.median(v["pagerank_s"]), "ratio")
    return out


def run(workload: str, seed: int, seconds: float, traced: bool, work: Path) -> tuple[dict, dict]:
    from eventlog import Span, fold, read_events
    from harness import (Ledger, PeakRss, Samples, Tracer, cpu_times, host_cores, jvm_pid,
                         mem_total_mb, settle, start_session, steal_share, versions)
    from workloads import WORKLOADS

    wl = WORKLOADS[workload](seed, work)
    tr = Tracer(workload, traced)
    s = Samples()
    ledger = Ledger()
    detail: dict = {
        "workload": workload, "seed": seed, "traced": traced,
        "host": {"nproc": host_cores(), "mem_total_mb": mem_total_mb()},
        "reference_golden": REFERENCE_GOLDEN,
    }

    spark = None
    tr.phase = "setup"
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        e0 = time.time()
        t0 = time.perf_counter()
        spark = start_session(f"perfbench-{workload}", work, traced)
        session_s = time.perf_counter() - t0
        tr.bind(spark)
        tr.rss = tr.rss or PeakRss(jvm_pid())
        tr.spans.append(Span("setup.session", e0 * 1000.0, (e0 + session_s) * 1000.0))
        wl.setup(spark, tr)
        s.add("setup.rep_s", time.perf_counter() - t0)
        s.add("session.wall_s", session_s)
        for span in tr.spans:
            s.add(f"{span.layer}_s", (span.end_ms - span.start_ms) / 1000.0)
    # the expected outputs, without Spark and untimed
    wl.expect(s)
    # the warm-up runs once, after the last set-up, and is added to it
    tr.phase = "warmup"
    t0 = time.perf_counter()
    wl.warmup(spark, tr)
    settle(spark)
    s.add("setup.warmup_s", time.perf_counter() - t0)
    s.add("setup_s", s.median("setup.rep_s") + s.median("setup.warmup_s"))

    tr.phase = None
    t_start = time.perf_counter()
    ticks = cpu_times()
    rounds = 0
    try:
        while rounds == 0 or time.perf_counter() - t_start < seconds:
            wl.round(spark, tr, s, ledger)
            rounds += 1
        if traced:
            tr.phase = "probe"
            wl.probe(spark, tr, s)
    except Exception:
        traceback.print_exc()
        ledger.failed += 1
    detail["rounds"] = rounds
    detail["measured_s"] = time.perf_counter() - t_start
    detail["host"]["steal_share"] = steal_share(ticks, cpu_times())
    tr.rss.sample()
    s.add("peak_rss_mb", tr.rss.mb())
    detail["host"].update(versions(spark))
    app_id = spark.sparkContext.applicationId
    spark.stop()

    layers = {}
    if traced:
        logs = [p for p in (work / "eventlog").iterdir() if app_id in p.name]
        layers = fold(read_events(str(logs[0])), tr.spans, workload)

    end_to_end = {}
    for name, unit in END_TO_END_UNITS.items():
        if s.values.get(name):
            end_to_end[name] = (s.median(name), unit)
    per_layer = _layer_metrics(layers, s, rounds) if traced else {}

    failed = min(ledger.failed, max(ledger.attempted, 1))
    detail.update({
        "checks": ledger.checks,
        "failed_share": {"value": failed / max(ledger.attempted, 1), "unit": "ratio"},
        "samples": s.table(),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "layers": layers,
    })
    result = {
        "correct": failed == 0 and all(c == "ok" for c in ledger.checks.values()),
        "attempted": max(ledger.attempted, 1),
        "failed": failed,
        "metrics": per_layer if traced else end_to_end,
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path(__file__).resolve().parent.parent
    if not (root / "combblas_spark" / "__init__.py").is_file():
        print(f"perfbench: no combblas_spark package under {root}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    work = root / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # python workers import the package by name: put the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    tempfile.tempdir = None
    sys.path.insert(0, str(root))

    from harness import shutdown_jvm

    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass

    metrics = {}
    for m in wanted:
        value, unit = result["metrics"].get(m["name"], (None, None))
        if value is None or unit != m["unit"]:
            print(f"perfbench: metric {m['name']} missing or not in {m['unit']}", file=sys.stderr)
            result["correct"] = False
            continue
        metrics[m["name"]] = {"value": value, "unit": unit}
    result["metrics"] = metrics
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
