"""CDC benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run from the repository root.  With ``--trace 0`` the last stdout line is
a JSON object with every end-to-end metric; with ``--trace 1`` the same
workload runs with spans, Spark job groups and the layer probes on, and
the JSON carries every per-layer metric.  Inputs are generated from the
seed into ``.perfbench/cache``; tables, checkpoints and Spark scratch
live in ``.perfbench/work`` and are removed at exit; result and span
files go to ``.perfbench/out``.  Exits non-zero when an output check
fails.  See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# the JVM heap of local mode (driver = executors); fits a 4-core, 15 GB
# machine shared with other work.  The heap is committed and touched at
# start (-Xms = -Xmx, pre-touch), so neither timings nor peak RSS depend on
# when the collector decides to grow it.
DRIVER_MEM = "2g"
# JIT compile thresholds, as a share of the JVM defaults.  At the defaults
# C2 keeps recompiling through the first minute and a replay speeds up
# from ~4.5 s to ~3 s over a dozen replays, so a short window would catch
# a different point of that curve in each run.  At a tenth the JIT settles
# within the warm-up replays.
JIT_THRESHOLD_SCALING = "0.1"

E2E_UNITS = {
    "events_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_max_s": "s",
    "rollup_freshness_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_live_row": "B/row",
}
LAYER_UNITS = {
    "sources.spool_dump_s": "s",
    "sources.spool_files": "count",
    "functions.walk_decode_s": "s",
    "operators.scan_s": "s",
    "operators.compact_s": "s",
    "operators.decode_s": "s",
    "operators.materialize_s": "s",
    "operators.net_ratio": "ratio",
    "streaming.apply_s_p50": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.spark_jobs_per_epoch": "count",
    "streaming.spark_tasks_per_epoch": "count",
    "lake.write_s": "s",
    "lake.footer_s": "s",
    "lake.commit_other_s": "s",
    "lake.bytes_written_per_event": "B/event",
    "lake.compact_buckets_s": "s",
    "lake.expire_snapshots_s": "s",
    "lake.ivm_refresh_s_p50": "s",
    "lake.ivm_refresh_spark_jobs": "count",
    "lake.snapshot_bytes": "B",
    "lake.mor_delta_depth_max": "count",
}
WORKLOADS = ("backfill", "tail")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def machine_env(work: str) -> tuple[int, dict[str, str]]:
    """Machine-fit Spark settings, fixed here rather than in the program's
    session defaults: local[nproc], an explicit driver heap, scratch and
    temporary files inside the run's work directory, and the program
    importable by the Python workers.  Returns (nproc, extra Spark conf)."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            f" -XX:CompileThresholdScaling={JIT_THRESHOLD_SCALING} -Djava.io.tmpdir={tmp}"
        ),
    }
    return nproc, conf


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def tracing_overhead(workload: str, traced: dict) -> list[str]:
    """Traced minus untraced end-to-end metrics, against the last untraced
    run of this workload in this checkout."""
    path = os.path.join(STATE, "out", f"last-{workload}-untraced.json")
    if not os.path.exists(path):
        return ["tracing overhead: no untraced run of this workload recorded yet"]
    with open(path) as f:
        base = json.load(f)
    lines = [f"tracing overhead (vs untraced seed {base['seed']}):"]
    for k, v in traced.items():
        b = base["e2e"].get(k)
        if b:
            lines.append(f"  {k}: traced {_fmt(v)} untraced {_fmt(b)} ({(v - b) / b:+.1%})")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(STATE, "work", f"run-{os.getpid()}")
    cache = os.path.join(STATE, "cache")
    outdir = os.path.join(STATE, "out")
    nproc, spark_conf = machine_env(work)
    sys.path.insert(0, ROOT)

    # the program under test; absent (a checkout without it) → ImportError
    from bench_util import cpu_probe

    import workloads
    from binlake_spark.session import get_spark

    os.makedirs(os.environ["TMPDIR"])
    os.makedirs(outdir, exist_ok=True)
    stamp = harness.machine_stamp(nproc)
    stamp["cpu_probe_before_s"] = cpu_probe()
    run_fn = {"backfill": workloads.backfill, "tail": workloads.tail}[args.workload]
    try:
        with harness.RssSampler() as rss:
            t = time.monotonic()
            spark = get_spark("perfbench", cpus=nproc, shuffle_partitions=nproc,
                              extra_conf=spark_conf)
            spark.range(1).count()
            session_s = time.monotonic() - t
            try:
                with workloads.Instruments(spark, bool(args.trace)) as inst:
                    out = run_fn(spark, inst, work, cache, args.seed, args.seconds, session_s)
                    layer = {}
                    if args.trace:
                        layer = workloads.layer_metrics(inst, out)
                        layer.update(workloads.operator_ladder(
                            spark, inst.tracer, out.ladder_files, out.final_table))
                        layer.update(workloads.wire_probe(
                            spark, inst.tracer, work, cache, args.seed, out))
            finally:
                harness.stop_spark(spark)
        out.metrics["peak_rss_mb"] = rss.peak / 2**20
        out.notes.append("peak RSS by command (MB): " + ", ".join(
            f"{k} {v / 2**20:.0f}" for k, v in sorted(rss.peak_by_command.items())))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp["cpu_probe_after_s"] = cpu_probe()

    failed_checks = sum(1 for _, ok, _ in out.checks if not ok)
    attempted = inst.attempted + len(out.checks) + out.shortfall
    failed = inst.failed + failed_checks + out.shortfall
    e2e = {k: out.metrics[k] for k in E2E_UNITS}
    finite = all(math.isfinite(v) for v in e2e.values())
    correct = failed == 0 and finite

    lines = [f"machine: {json.dumps(stamp)}", *out.notes]
    lines += [f"check: {'PASS' if ok else 'FAIL'} {name}: {detail}"
              for name, ok, detail in out.checks]
    lines += [f"{k} = {_fmt(v)} {E2E_UNITS[k]}" for k, v in e2e.items()]
    lines.append(f"failed_op_ratio = {failed / attempted:.6g} ({failed} of {attempted} "
                 "operations: epoch applies, refreshes, output checks)")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "machine": stamp, "e2e": e2e, "layer": layer, "checks": out.checks,
              "attempted": attempted, "failed": failed, "notes": out.notes}
    if args.trace:
        lines += [f"{k} = {_fmt(v)} {LAYER_UNITS[k]}" for k, v in layer.items()]
        lines += tracing_overhead(args.workload, e2e)
        rollup = harness.self_time_rollup(inst.tracer.spans)
        lines.append("self time by span (count, total s, self s):")
        lines += [f"  {n}: {r['count']} {r['total_s']:.3f} {r['self_s']:.3f}"
                  for n, r in sorted(rollup.items(), key=lambda kv: -kv[1]["self_s"])]
        span_path = os.path.join(outdir, f"spans-{tag}.json")
        inst.tracer.write(span_path, {"workload": args.workload, "seed": args.seed})
        lines.append(f"spans: {os.path.relpath(span_path, ROOT)}")
        metrics = {k: layer[k] for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    with open(os.path.join(outdir, f"result-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if correct and not args.trace:
        shutil.copyfile(os.path.join(outdir, f"result-{tag}.json"),
                        os.path.join(outdir, f"last-{args.workload}-untraced.json"))
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        code = main()
    finally:
        # on every way out, nothing this run started outlives it
        harness.end_processes(harness.descendants(os.getpid()), timeout=5)
    sys.exit(code)
