"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds its inputs from the seed under
perfbench/work/ (removed at exit), runs the workload for S seconds after
set-up and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the separate
traced run and reports the per-layer metrics. Full results, spans and the
formatted physical plans land in perfbench/results/<workload>/. Exits
non-zero when any output check fails or the library cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def untraced(bench, seconds: float) -> tuple[dict, dict]:
    """Set-up, then repetitions in the measured window: the first always
    runs, each further one only if the previous repetition's wall says it
    will end inside the window. Metrics are medians over them."""
    import measure

    bench.start_session()
    bench.generate()
    t0 = time.perf_counter()
    bench.rep("warmup")
    bench.timings["warmup_s"] = time.perf_counter() - t0
    setup_s = sum(bench.timings[k] for k in ("session_s", "generate_s", "warmup_s"))

    start = time.perf_counter()
    measured = []
    while not measured or (
        time.perf_counter() - start + measured[-1].wall <= seconds
    ):
        measured.append(bench.rep(f"rep{len(measured)}"))
    good = [r for r in measured if r.ok]

    def med(field: str) -> float:
        return measure.median([getattr(r, field) for r in good]) if good else 0.0

    n = bench.sizes["pages"]
    attempted, ok = len(bench.reps), sum(r.ok for r in bench.reps)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "docs_per_s": metric(n / med("wall") if good else 0.0, "docs/s"),
        "dup_pair_recall": metric(min(r.recall for r in bench.reps), "ratio"),
        "shuffle_bytes_per_doc": metric(med("shuffle_bytes") / n, "B/doc"),
        "peak_heap_mb": metric(med("peak_heap_mb"), "MB"),
        "ok_ratio": metric(ok / attempted, "ratio"),
    }
    detail = {"repetitions": [vars(r) for r in bench.reps], "plans": {"pipeline": bench.plan}}
    return metrics, detail


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    if spark is None:
        return
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import lasvdedup_spark
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(lasvdedup_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the library was imported from outside {ROOT}", file=sys.stderr)
        return 2
    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(HERE, "work", f"{wl.name}-{args.seed}-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep every scratch file Spark and Python write inside the work dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no /tmp/hsperfdata_<user> files from the JVMs Spark launches
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None

    bench = workloads.Bench(wl, args.seed, work)
    cpu0 = measure.read_proc_stat_cpu()
    try:
        if args.trace:
            import tracing
            metrics, detail = tracing.traced(bench)
        else:
            metrics, detail = untraced(bench, args.seconds)
    finally:
        stop_spark(getattr(bench, "spark", None))
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):   # left alone while another run uses it
            os.rmdir(os.path.dirname(work))
    steal = measure.steal_share(cpu0, measure.read_proc_stat_cpu())

    failed = sum(not r.ok for r in bench.reps)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.reps),
        "failed": failed,
        "metrics": metrics,
    }
    out_dir = os.path.join(HERE, "results", wl.name, "trace" if args.trace else "e2e")
    os.makedirs(out_dir, exist_ok=True)
    for name, text in detail.pop("plans").items():
        with open(os.path.join(out_dir, f"plan-{name}.txt"), "w") as f:
            f.write(text)
    if args.trace:
        metrics["host.cpu_steal_pct"]["value"] = 100.0 * steal
        with open(os.path.join(out_dir, "spans.json"), "w") as f:
            json.dump(detail.pop("spans"), f, indent=1)
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump({
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "environment": bench.environment(), "host_cpu_steal": steal,
            "input_sizes": bench.sizes, "timings": bench.timings,
            "result": result, **detail,
        }, f, indent=1, default=str)
    for r in bench.reps:
        if not r.ok:
            print(f"perfbench: {r.label} failed: {r.error}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
