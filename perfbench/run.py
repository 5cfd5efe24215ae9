#!/usr/bin/env python3
"""sketchlib benchmark: closed-loop workloads over generated ``pages`` data.

    python3 perfbench/run.py --workload pages_build --seed 1 --seconds 25 --trace 0

Run from the repository root.  One driver process, one client thread: each
call waits for its result before the next is sent, on a local Spark session
of at most ``nproc`` cores started fresh for the run.

Set-up (input generation, exact oracles, the workload's own preparation)
runs several times on the started session and ``setup_s`` is their median;
session start, Spark's own cost, is printed apart as ``session_start_s``.
One untimed warm-up iteration precedes the measured loop.  ``call_s_p50``
is each call kind's median seconds averaged over the kinds, and
``docs_per_s`` the docs of one call of each kind over the sum of those
medians: medians over the whole run, per kind, so a slow stretch of the
shared host moves them less than a mean would.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.  ``--trace
1`` runs the loop for half the time untraced, then on a new session with
the UI on for half the time traced (spans, job groups, the UI's status
store), then probes every layer, and prints the
per-layer metrics; spans go to ``.perfbench/spans/``.  Both print the
workload's named metrics as ``<workload> <metric> = <value> <unit>`` lines
and end with one JSON line: correct, attempted, failed, metrics.

Every call's output is checked against exact oracles; a failed check or
call counts as failed and makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import sketchlib from the same tree, with this interpreter
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ["PYSPARK_PYTHON"] = sys.executable

import common  # noqa: E402
import layers  # noqa: E402
from workloads import (WORKLOADS, Ctx, call_s_p50, docs_per_s,  # noqa: E402
                       durations, run_calls as loop)

SETUP_REPS = 3


def named_metrics(w, records, setup_s: float | None, rss_mb: float) -> list:
    """The workload's end-to-end metrics under their own names."""
    failed = sum(bool(r["failures"]) for r in records)
    out = [("ops_failed_frac", failed / len(records), "ratio"),
           ("peak_rss_mb", rss_mb, "MB")]
    if setup_s is not None:
        out.append(("setup_s", setup_s, "s"))
    out += [(k, v, "ratio") for k, v in sorted(w.quality.items())]
    return out + w.named(records)


def end_to_end(w, records, setup_times, rss) -> tuple[dict, list]:
    rss_mb = rss.total_peak / 2 ** 20
    setup_s = median(setup_times)
    metrics = {
        "setup_s": setup_s,
        "call_s_p50": call_s_p50(records),
        "docs_per_s": docs_per_s(records),
        "peak_rss_mb": rss_mb,
    }
    return metrics, named_metrics(w, records, setup_s, rss_mb)


def per_layer(w, spark, tracer, facts, off, on, rss, work_dir, seed):
    """(per-layer metrics, named lines, the probes' call records)."""
    store = common.StatusStore(spark.sparkContext)
    totals = store.totals("loop:", *(g for r in on for g in r["groups"]))
    wall = sum(durations(on))
    m = dict(facts)
    m["proc.jvm_peak_rss_mb"] = rss.jvm_peak / 2 ** 20
    m["proc.py_workers_peak_rss_mb"] = rss.workers_peak / 2 ** 20
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "python_bytes_sent", "python_bytes_returned"):
        m[f"spark.{k}"] = float(totals[k])
    m["spark.residual_s"] = wall - totals["job_wall_s"]
    m["trace.overhead_frac"] = call_s_p50(on) / call_s_p50(off) - 1
    loop_self = tracer.self_times()

    probes = layers.Probes(spark, tracer, store, f"{work_dir}/probes")
    with tracer.span("probe.kernels", "sketchlib.hll"):
        m.update(layers.kernel_rates(w.pdf))
    ladder = probes.ladder(w.df)
    m.update({k: v for k, v in ladder.items() if not k.startswith("ladder.")})
    m.update(probes.merge(*w.blob_table()))
    ingest_m, ingest_named, ingest_rec = probes.ingest(seed)
    dedup_m, dedup_named, dedup_rec = probes.near_dup(seed)
    m.update(ingest_m)
    m.update(dedup_m)

    # the design premise, as shares of the loop's call time: calls that
    # build from raw rows split like the ladder's distinct_count (Arrow +
    # stage-1 build vs. everything after stage 1); blob-only calls are merge
    build_share = sum(r["s"] for r in on if r["builds_rows"]) / wall
    full = ladder["ladder.full_s"]
    m["premise.hash_arrow_share"] = build_share * (
        (ladder["spark.arrow_s"] + ladder["aggregate.build_s"]) / full)
    m["premise.merge_share"] = (1 - build_share) + build_share * max(
        full - ladder["ladder.build_rung_s"], 0.0) / full

    named = [(k, v, "") for k, v in facts.items()]
    named += [(f"self_s[{layer}]", v, "s") for layer, v in sorted(loop_self.items())]
    named += [(f"prediction[{k}]", v, "") for k, v in layers.PREDICTIONS.items()]
    named += named_metrics(w, on, None, rss.total_peak / 2 ** 20)
    named += [(f"probe {k}", v, u) for k, v, u in ingest_named + dedup_named]
    return m, named, ingest_rec + dedup_rec


def start(args, work_dir: str, ui: bool, reps: int, env: list):
    """A session, then ``reps`` set-ups on it; returns the last one's
    workload object, its setup facts and every set-up's seconds."""
    t0 = time.perf_counter()
    spark = common.build_session(work_dir, ui=ui)
    env.append((f"session_start_s[ui={int(ui)}]", time.perf_counter() - t0, "s"))
    try:
        setup_times = []
        for rep in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            w = WORKLOADS[args.workload]()
            facts = w.setup(Ctx(spark, f"{work_dir}/ui{int(ui)}-setup{rep}",
                                args.seed))
            setup_times.append(time.perf_counter() - t0)
    except BaseException:
        common.shutdown(spark)
        raise
    return spark, w, facts, setup_times


def run(args, work_dir: str) -> tuple[dict, list, int, int]:
    run_id = uuid.uuid4().hex[:12]
    tracer = common.Tracer(run_id, enabled=False)
    env = [("nproc", common.cores(), "count"),
           ("loadavg_1m_before", os.getloadavg()[0], "")]
    spark, w, facts, setup_times = start(
        args, work_dir, False, 1 if args.trace else SETUP_REPS, env)
    try:
        attempted = loop(w, 0, tracer)  # one untimed warm-up iteration
        if not args.trace:
            with common.RssSampler() as rss:
                records = loop(w, args.seconds, tracer)
            attempted += records
            metrics, named = end_to_end(w, records, setup_times, rss)
        else:
            # half the time untraced, then half traced on a new session with
            # the UI on: the difference is the whole cost of tracing
            off = loop(w, args.seconds / 2, tracer)
            spark.stop()
            spark, w, facts, _ = start(args, work_dir, True, 1, env)
            attempted += off + loop(w, 0, tracer)
            tracer.enabled = True
            with common.RssSampler() as rss:
                on = loop(w, args.seconds / 2, tracer, spark.sparkContext)
            attempted += on
            metrics, named, probed = per_layer(w, spark, tracer, facts, off,
                                               on, rss, work_dir, args.seed)
            attempted += probed
            tracer.write(f"{ROOT}/.perfbench/spans/{w.name}-seed{args.seed}"
                         f"-{run_id}.jsonl")
    finally:
        common.shutdown(spark)
    env.append(("loadavg_1m_after", os.getloadavg()[0], ""))
    failed = sum(bool(r["failures"]) for r in attempted)
    return metrics, env + named, len(attempted), failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.seed &= 0xFFFFFFFF  # numpy seeds are unsigned
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work_dir = f"{ROOT}/.perfbench/run-{os.getpid()}"
    os.makedirs(work_dir)
    os.environ["TMPDIR"] = f"{work_dir}/tmp"
    try:
        metrics, named, attempted, failed = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    for name, value, unit in named:
        v = value if isinstance(value, str) else f"{value:.6g}"
        print(f"{args.workload} {name} = {v} {unit}".rstrip())
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
