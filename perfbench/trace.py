"""Spans and the per-layer numbers of a traced run.

Everything is measured from outside the package:

- the benchmark's own spans around each call into a layer, kept in
  memory and written out at the end;
- Spark's event log (task metrics, stage scopes, SQL plans, block
  updates), read after the session stops;
- the PySpark UDF perf profiler (``spark.sql.pyspark.udf.profiler``),
  switched on only for the profiled iterations.

Jobs are attributed to an iteration by submission time.  Every
per-layer number covers the profiled iterations only; the plain
iterations in between give ``trace.overhead_frac``.  Time-like
numbers are per 1,000 input rows (``s/krow``) so runs that fit a
different number of iterations compare.

Which end-to-end metric each layer should move, and on which
workload, is ``LAYER_MAP`` below.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pstats
import statistics
import time

# per-layer metric -> (end-to-end metrics it should move, workloads)
LAYER_MAP = {
    "sources.input_splits": ("rows_per_s", "job_full job_refs"),
    "sources.rows_scanned_per_row": (
        "rows_per_s cpu_s_per_krow", "job_full job_refs"),
    "extract.udf_cpu_s": ("cpu_s_per_krow", "job_full job_refs"),
    "extract.boundary_s": ("rows_per_s", "job_full"),
    "extract.worker_other_cpu_s": ("cpu_s_per_krow", "job_full job_refs"),
    "spark.jvm_other_cpu_s": ("cpu_s_per_krow rows_per_s", "all"),
    "core.*_s": ("rows_per_s cpu_s_per_krow",
                 "job_refs most, job_full partly, not near_dup"),
    "render.s": ("rows_per_s", "job_full; ~0 on job_refs"),
    "sinks.write_s sinks.lineage_s": ("rows_per_s", "job_full"),
    "sinks.files_per_krow": ("out_bytes_per_row", "job_full stream_drops"),
    "sinks.persist_mb": ("peak_rss_mb", "job_full"),
    "spark.core_busy_frac": ("rows_per_s", "all"),
    "spark.executor_cpu_s spark.gc_s spark.deserialize_s "
    "spark.result_ser_s": ("cpu_s_per_krow", "all"),
    "spark.shuffle_write_mb spark.spill_mb": (
        "rows_per_s", "near_dup; 0 on job_* (no shuffle)"),
    "spark.task_failures": ("failed rows (attempted/failed)", "all"),
    "operators.cc_rounds operators.stage_cpu_s": (
        "rows_per_s cpu_s_per_krow", "near_dup"),
    "streaming.*_s": ("commit_p50_s commit_tail_s", "stream_drops"),
    "trace.unattributed_cpu_s": ("coverage of the trace", "all"),
    "trace.overhead_frac": ("cost of tracing", "all"),
}

# core stages: profiler function names in pdfextract_spark/core/
CORE_STAGES = {
    "core.typeset_s": ("typeset_lines",),
    "core.regions_s": ("regions_for_page",),
    "core.furniture_s": (
        "margins_for_page", "zones_for_page", "columns_for_page"),
    "core.sections_s": ("sections_for_doc",),
    "core.titles_s": ("title_for_doc",),
    "core.references_s": ("references_for_doc",),
}

# near-dup phases, told apart by the columns their SQL plans carry
# (checkpoint fences cut each phase's lineage, so a plan holds only
# its own phase); first match wins
DEDUP_PHASES = (
    ("attach", ("is_canonical",)),
    ("cc", ("_changed", "neigh_comp", "src#", "dst#")),
    ("verify", ("jaccard",)),
    ("lsh", ("band_hash",)),
    ("collapse", ("_th#", "_keep#")),
)


class Tracer:
    """In-memory spans: name, start, end, parent, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _new_stage() -> dict:
    return {
        "scopes": set(), "tasks": 0, "acc": {}, "run_ms": 0,
        "cpu_ns": 0, "deser_cpu_ns": 0, "gc_ms": 0, "deser_ms": 0,
        "ser_ms": 0, "shuffle_w": 0, "spill": 0, "records_read": 0,
        "failures": 0,
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages (with summed task metrics), SQL plans and the peak
    of cached/checkpointed block memory from one uncompressed log."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs, stages, plans = {}, {}, {}
    blocks: dict[str, int] = {}
    cached = peak_cached = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                sql = e.get("Properties", {}).get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000.0,
                    "stages": e["Stage IDs"],
                    "sql": None if sql is None else int(sql),
                }
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stages.setdefault(si["Stage ID"], _new_stage())
                for rdd in si["RDD Info"]:
                    if rdd.get("Scope"):
                        st["scopes"].add(json.loads(rdd["Scope"])["name"])
                for a in si.get("Accumulables", []):
                    name, val = a["Name"], a.get("Value")
                    if not name.startswith("internal.") and str(
                        val
                    ).lstrip("-").isdigit():
                        st["acc"][name] = st["acc"].get(name, 0) + int(val)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage())
                st["tasks"] += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    st["failures"] += 1
                tm = e.get("Task Metrics") or {}
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                st["deser_cpu_ns"] += tm.get(
                    "Executor Deserialize CPU Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                st["ser_ms"] += tm.get("Result Serialization Time", 0)
                st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                st["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["records_read"] += (tm.get("Input Metrics") or {}).get(
                    "Records Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plans[e["executionId"]] = e.get("physicalPlanDescription", "")
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                bid = info["Block ID"]
                if bid.startswith("rdd_"):
                    cached += info["Memory Size"] - blocks.get(bid, 0)
                    blocks[bid] = info["Memory Size"]
                    peak_cached = max(peak_cached, cached)
    return {"jobs": jobs, "stages": stages, "plans": plans,
            "peak_cached_bytes": peak_cached}


def read_profile(profile_dir: str) -> pstats.Stats | None:
    files = sorted(glob.glob(os.path.join(profile_dir, "*.pstats")))
    return pstats.Stats(*files) if files else None


def _cum(stats: pstats.Stats, funcs: tuple[str, ...]) -> float:
    """Cumulative time of the named kernel functions."""
    return sum(
        ct
        for (_file, _line, func), (_cc, _nc, _tt, ct, _callers)
        in stats.stats.items()
        if func in funcs
    )


def layer_metrics(
    ev: dict,
    stats: pstats.Stats | None,
    iters: list[dict],
    cores: int,
    stream_progress: list[dict],
) -> tuple[dict[str, tuple[float, str]], dict]:
    """Per-layer metrics of the profiled iterations, plus detail for
    the side file.  ``iters`` are the measured iterations: start, end,
    rows, process-tree CPU by process kind, and whether the profiler
    was on."""
    prof = [it for it in iters if it["profiled"]]
    plain = [it for it in iters if not it["profiled"]]
    rows = sum(it["rows"] for it in prof)
    krow = max(rows, 1) / 1000.0
    wall = sum(it["end"] - it["start"] for it in prof)

    def in_prof(t: float) -> bool:
        return any(it["start"] <= t <= it["end"] for it in prof)

    jobs = [j for j in ev["jobs"].values() if in_prof(j["submit"])]
    stage_ids = sorted({s for j in jobs for s in j["stages"]})
    stages = [ev["stages"][s] for s in stage_ids if s in ev["stages"]]

    def total(key: str, sts=stages) -> float:
        return float(sum(st[key] for st in sts))

    def acc(name: str, sts) -> float:
        return float(sum(st["acc"].get(name, 0) for st in sts))

    arrow = [st for st in stages if "MapInArrow" in st["scopes"]]
    scans = [st for st in stages if "Scan parquet " in st["scopes"]]

    def job_stages(pred) -> list[dict]:
        ids = {
            s for j in jobs
            if j["sql"] is not None and pred(ev["plans"].get(j["sql"], ""))
            for s in j["stages"]
        }
        return [ev["stages"][s] for s in sorted(ids) if s in ev["stages"]]

    lineage = job_stages(lambda p: "_lineage" in p)
    out_write = job_stages(
        lambda p: "InsertIntoHadoopFsRelationCommand" in p
        and "_lineage" not in p
    )

    udf = extract_turn = 0.0
    m: dict[str, tuple[float, str]] = {}
    if stats is not None:
        udf = stats.total_tt
        extract_turn = _cum(stats, ("extract_turn",))
    for name, funcs in CORE_STAGES.items():
        core = _cum(stats, funcs) if stats is not None else 0.0
        m[name] = (core / krow, "s/krow")

    python_s = (
        acc("time to start Python workers", arrow)
        + acc("time to initialize Python workers", arrow)
        + acc("time to run Python workers", arrow)
    ) / 1000.0
    m["sources.input_splits"] = (
        total("tasks", scans) / max(len(scans), 1), "tasks")
    m["sources.rows_scanned_per_row"] = (
        total("records_read") / max(rows, 1), "ratio")
    m["extract.udf_cpu_s"] = (udf / krow, "s/krow")
    m["extract.boundary_s"] = (max(python_s - udf, 0.0) / krow, "s/krow")
    m["render.s"] = (max(udf - extract_turn, 0.0) / krow, "s/krow")
    write_ms = sum(
        max(st["run_ms"] - st["acc"].get("time to run Python workers", 0)
            - st["acc"].get("scan time", 0), 0)
        for st in out_write
    )
    m["sinks.write_s"] = (write_ms / 1000.0 / krow, "s/krow")
    m["sinks.lineage_s"] = (total("run_ms", lineage) / 1000.0 / krow,
                            "s/krow")
    m["sinks.persist_mb"] = (ev["peak_cached_bytes"] / 2**20, "MB")

    executor_cpu = total("cpu_ns") / 1e9
    m["spark.core_busy_frac"] = (
        total("run_ms") / 1000.0 / max(wall * cores, 1e-9), "fraction")
    m["spark.executor_cpu_s"] = (executor_cpu / krow, "s/krow")
    m["spark.gc_s"] = (total("gc_ms") / 1000.0 / krow, "s/krow")
    m["spark.deserialize_s"] = (total("deser_ms") / 1000.0 / krow, "s/krow")
    m["spark.result_ser_s"] = (total("ser_ms") / 1000.0 / krow, "s/krow")
    m["spark.shuffle_write_mb"] = (total("shuffle_w") / 2**20 / krow,
                                   "MB/krow")
    m["spark.spill_mb"] = (total("spill") / 2**20 / krow, "MB/krow")
    m["spark.task_failures"] = (total("failures"), "count")

    def phase_of(plan: str) -> str | None:
        for phase, keys in DEDUP_PHASES:
            if any(k in plan for k in keys):
                return phase
        return None

    phase_cpu = {phase: 0.0 for phase, _ in DEDUP_PHASES}
    for j in jobs:
        plan = ev["plans"].get(j["sql"], "") if j["sql"] is not None else ""
        phase = phase_of(plan)
        if phase is None:
            continue
        phase_cpu[phase] += sum(
            ev["stages"][s]["cpu_ns"] for s in j["stages"]
            if s in ev["stages"]) / 1e9
    # one convergence probe (filter on _changed, LIMIT 1) per CC round
    cc_rounds = sum(
        1 for sql in {j["sql"] for j in jobs if j["sql"] is not None}
        if "_changed" in ev["plans"].get(sql, "")
        and "Limit" in ev["plans"].get(sql, "")
    )
    m["operators.cc_rounds"] = (cc_rounds / max(len(prof), 1), "rounds")
    m["operators.stage_cpu_s"] = (sum(phase_cpu.values()) / krow, "s/krow")

    prog = [p for p in stream_progress if in_prof(p["t"])]

    def med(key: str) -> float:
        vals = [p[key] for p in prog]
        return statistics.median(vals) if vals else 0.0

    m["streaming.start_s"] = (med("start_s"), "s")
    m["streaming.planning_s"] = (med("planning_s"), "s")
    m["streaming.add_batch_s"] = (med("add_batch_s"), "s")
    m["streaming.wal_commit_s"] = (med("wal_commit_s"), "s")

    def proc_cpu(kind: str) -> float:
        return sum(it["cpu_by_kind"][kind] for it in prof)

    # process CPU outside what tasks and the UDF body account for:
    # codegen, JIT, GC and scheduling in the JVM; Arrow IPC and the
    # worker loop in the Python workers
    task_cpu = executor_cpu + total("deser_cpu_ns") / 1e9
    jvm_other = proc_cpu("jvm") - task_cpu
    worker_other = proc_cpu("python_workers") - udf
    m["spark.jvm_other_cpu_s"] = (jvm_other / krow, "s/krow")
    m["extract.worker_other_cpu_s"] = (worker_other / krow, "s/krow")
    # task + UDF + the two remainders cover the JVM and the workers, so
    # what is left is the driver process and anything else in the tree
    m["trace.unattributed_cpu_s"] = (
        (proc_cpu("driver") + proc_cpu("other")) / krow, "s/krow")

    def med_wall(its):
        return statistics.median(it["end"] - it["start"] for it in its)

    m["trace.overhead_frac"] = (
        med_wall(prof) / med_wall(plain) - 1.0 if prof and plain else 0.0,
        "fraction",
    )
    detail = {f"{p}_cpu_s_per_krow": c / krow for p, c in phase_cpu.items()}
    return m, {"dedup_phases": detail, "profiled_rows": rows,
               "profiled_iterations": len(prof), "plain_iterations": len(plain)}
