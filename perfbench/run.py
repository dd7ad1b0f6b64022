"""Production-path benchmark for pdfextract_spark.

    python3 perfbench/run.py --workload job_full --seed 1 --seconds 10 --trace 0

Run from the repository root.  One run = one workload in one driver
process on ``local[min(4, nproc)]``:

1. set-up (reported as ``setup_s``): session start, the seeded input
   build three times (median), one untimed warm-up iteration;
2. the timed window: whole iterations, the next one started only while
   half of it still fits in ``--seconds``;
3. the correctness gate on every iteration's committed output, after
   the session is stopped.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload in a separate session with Spark's event log on and the
UDF perf profiler on every other iteration, and prints the per-layer
metrics (see ``trace.py``).  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; full detail and the
spans go to ``.perfbench/<run>/``.  Exit code 1 when a correctness
gate fails, 2 when run outside a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import inputs, proctree, trace, workloads  # noqa: E402

SETUP_REPEATS = 3
KEEP = ("result.json", "spans.json", "eventlog", "profile")
PROFILER = "spark.sql.pyspark.udf.profiler"


def start_session(work: str, cores: int, traced: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
    )
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.logBlockUpdates.enabled", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    descendants = [p for p in proctree.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
    # the PySpark daemon and workers outlive the JVM by a moment
    proctree.wait_ended(descendants)


def span_s(span: dict) -> float:
    return span["end"] - span["start"]


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it (the
    median when there are fewer than twenty samples)."""
    n = len(samples)
    q = max(50, int(100 * (1 - 10 / n)))
    return sorted(samples)[min(n - 1, q * n // 100)], q


def measure(wl, spark, seconds: float, tracer, traced: bool) -> list[dict]:
    """Whole iterations until the window is spent: the next one starts
    only while at least half of it still fits (a traced run needs two,
    one profiled and one plain)."""
    iters: list[dict] = []
    t_end = time.time() + seconds
    last = 0.0
    i = 0
    while (not iters or time.time() + last / 2 < t_end
           or (traced and len(iters) < 2)):
        profiled = traced and i % 2 == 0
        if profiled:
            spark.conf.set(PROFILER, "perf")
        cpu0 = proctree.cpu_by_kind()
        with tracer.span("iteration", i=i, profiled=profiled) as sp:
            rows, commits = wl.iterate(i)
        cpu1 = proctree.cpu_by_kind()
        cpu = {k: cpu1[k] - cpu0.get(k, 0.0) for k in cpu1}
        if profiled:
            spark.conf.unset(PROFILER)
        last = span_s(sp)
        iters.append({"i": i, "start": sp["start"], "end": sp["end"],
                      "rows": rows, "commits": commits,
                      "cpu_s": sum(cpu.values()), "cpu_by_kind": cpu,
                      "profiled": profiled})
        i += 1
    return iters


def sig(v: float) -> float:
    return float(f"{v:.6g}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pdfextract_spark")):
        print("perfbench: pdfextract_spark/ not found; run from the root "
              "of a repository checkout", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".perfbench", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package from the checkout; every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, root)
    cores = min(4, os.cpu_count() or 1)

    tracer = trace.Tracer(run_id)
    with tracer.span("run", workload=args.workload, seed=args.seed,
                     traced=traced):
        with tracer.span("session") as session:
            spark = start_session(work, cores, traced)
        try:
            wl = workloads.make(args.workload, spark, work, args.seed)
            builds = []
            for r in range(SETUP_REPEATS):
                with tracer.span("inputs", repeat=r) as sp:
                    wl.build_inputs()
                builds.append(span_s(sp))
            with tracer.span("warmup") as warmup:
                wl.warmup()
            with tracer.span("measure"):
                iters = measure(wl, spark, args.seconds, tracer, traced)
            peak_rss = proctree.peak_rss_mb()
            if traced:
                spark.profile.dump(os.path.join(work, "profile"), type="perf")
        finally:
            stop_session(spark)
        with tracer.span("check"):
            attempted, failed, check = wl.check()

    rows = sum(it["rows"] for it in iters)
    wall = sum(it["end"] - it["start"] for it in iters)
    commits = [c for it in iters for c in it["commits"]]
    tail, tail_q = tail_percentile(commits)
    # every committed row is checked, so attempted = rows on disk
    out_rows = max(attempted, 1)
    out_bytes = sum(inputs.dir_bytes(d) for d in wl.outs)
    files = sum(inputs.count_files(d) for d in wl.outs)
    detail = {
        "workload": args.workload, "seed": args.seed, "traced": traced,
        "cores": cores, "shape": wl.shape(), "check": check,
        "iterations": len(iters), "rows": rows, "wall_s": wall,
        "setup": {"session_s": span_s(session), "input_builds_s": builds,
                  "warmup_s": span_s(warmup)},
        "commit_samples": len(commits), "commit_tail_percentile": tail_q,
        "attempted": attempted, "failed": failed,
        "failed_row_frac": failed / max(attempted, 1),
    }
    if not traced:
        metrics = {
            "setup_s": (span_s(session) + statistics.median(builds)
                        + span_s(warmup), "s"),
            "rows_per_s": (rows / wall, "rows/s"),
            "cpu_s_per_krow": (
                sum(it["cpu_s"] for it in iters) / rows * 1000, "CPU-s"),
            "commit_p50_s": (statistics.median(commits), "s"),
            "commit_tail_s": (tail, "s"),
            "out_bytes_per_row": (out_bytes / out_rows, "B"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    else:
        ev = trace.read_event_log(os.path.join(work, "eventlog"))
        stats = trace.read_profile(os.path.join(work, "profile"))
        metrics, detail["trace"] = trace.layer_metrics(
            ev, stats, iters, cores, wl.progress)
        metrics["sinks.files_per_krow"] = (files / out_rows * 1000, "files/krow")
        detail["layer_map"] = trace.LAYER_MAP
    detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    detail["iters"] = iters
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    tracer.write(os.path.join(work, "spans.json"))
    # keep the record, spans, event log and profile; drop data
    for name in os.listdir(work):
        if name not in KEEP:
            path = os.path.join(work, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)

    correct = failed == 0 and not check["problems"]
    for p in check["problems"]:
        print(f"perfbench: CHECK FAILED {args.workload}: {p}", file=sys.stderr)
    lines = [
        f"{name} {args.workload} {sig(v)} {unit}"
        for name, (v, unit) in sorted(metrics.items())
    ]
    lines.append(
        f"failed_row_frac {args.workload} {sig(detail['failed_row_frac'])} "
        f"fraction; commit_tail=p{tail_q} of {len(commits)}")
    # every digit as measured (17 round-trips a double) unless that
    # pushes the record past 2,000 characters (see below)
    for digits in (17, 10):
        record = json.dumps(
            {
                "correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(f"{v:.{digits}g}"), "unit": u}
                            for k, (v, u) in sorted(metrics.items())},
            },
            separators=(",", ":"),
        )
        if len(record) < 2000:
            break
    # the whole stdout record stays under 2,000 characters, so a runner
    # that keeps only that much of the tail still parses the last line
    text = "\n".join(lines + [record])
    if len(text) >= 2000:
        print("\n".join(lines), file=sys.stderr)
        text = record
    print(text, flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
