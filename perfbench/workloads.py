"""The four workloads, each driven through the package's public entry
points.  A workload builds its seeded inputs, runs one timed
iteration at a time, and checks every iteration's committed output
after the timed window, without Spark.

Sizes are scaled so that set-up, a 10-second window and the checks of
one run stay near half a minute on a 4-core host, and 70 runs of the
manifest fit in under an hour.  ``job_refs`` is runnable by name but
not listed in BENCHMARK.json, for the same budget.
"""

from __future__ import annotations

import collections
import os
import random
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import inputs


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs_dir = os.path.join(work, "inputs")
        self.outs: list[str] = []  # committed output directories
        self.progress: list[dict] = []  # streaming progress per drop

    def out_path(self, i: int) -> str:
        return os.path.join(self.work, "out", f"iter-{i:03d}")


class ExtractionJob(Workload):
    """``sources.tables.read_transcripts`` -> ``sinks.run_extraction_job``
    over a multi-file transcripts table, 64 buckets, 16 per batch."""

    n_buckets = 64

    def __init__(self, spark, work, seed, n_docs, turns_per_doc, want):
        super().__init__(spark, work, seed)
        self.n_docs, self.turns_per_doc, self.want = n_docs, turns_per_doc, want
        self.tr_dir = os.path.join(work, "transcripts")

    def build_inputs(self) -> None:
        inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"),
            self.n_docs, self.seed)
        inputs.build_transcripts(
            self.spark, self.docs_dir, self.tr_dir, self.turns_per_doc)

    def _job(self, out: str, buckets_per_batch: int = 16):
        from pdfextract_spark.sinks import run_extraction_job
        from pdfextract_spark.sources.tables import read_transcripts

        lineage = run_extraction_job(
            self.spark, read_transcripts(self.spark, self.tr_dir), out,
            n_buckets=self.n_buckets, buckets_per_batch=buckets_per_batch,
            resume=False, want=self.want)
        return lineage.collect()

    def warmup(self) -> None:
        # one batch warms the same stages at a quarter of the fixed cost
        self._job(os.path.join(self.work, "out", "warmup"), self.n_buckets)

    def iterate(self, i: int) -> tuple[int, list[float]]:
        out = self.out_path(i)
        t0 = time.time()
        lineage = self._job(out)
        self.outs.append(out)
        # per-batch commit latency: one committed_at per batch of buckets
        stamps = sorted({r["committed_at"] for r in lineage})
        commits = [b - a for a, b in zip([t0] + stamps, stamps)]
        return sum(r["rows_out"] for r in lineage), commits

    def shape(self) -> dict:
        return inputs.transcript_shape(self.tr_dir)

    def check(self) -> tuple[int, int, dict]:
        """Lineage sums to the input, every bucket committed exactly
        once, no errored turn, every input turn in the output once, and
        a seeded sample matches the single-node path."""
        from pdfextract_spark.core import extract_turn, render_turn

        src = pq.read_table(self.tr_dir, columns=["conv_id", "turn_idx", "text"])
        n_in = src.num_rows
        keys_in = set(zip(src.column("conv_id").to_pylist(),
                          src.column("turn_idx").to_pylist()))
        attempted = failed = 0
        problems: list[str] = []
        for out in self.outs:
            attempted += n_in
            lin = pq.read_table(os.path.join(out, "_lineage")).to_pydict()
            buckets = collections.Counter(lin["bucket"])
            bad = [b for b in range(self.n_buckets) if buckets[b] != 1]
            errored = sum(lin["turns_errored"])
            got = ds.dataset(out, format="parquet", partitioning="hive").to_table(
                columns=["conv_id", "turn_idx"])
            keys = collections.Counter(zip(got.column("conv_id").to_pylist(),
                                           got.column("turn_idx").to_pylist()))
            missing = len(keys_in - keys.keys())
            extra = sum(c for k, c in keys.items() if k not in keys_in) + sum(
                c - 1 for c in keys.values() if c > 1)
            lost = abs(n_in - sum(lin["rows_out"]))
            failed += max(missing + extra, lost) + errored + len(bad)
            if bad or errored or missing or extra or lost:
                problems.append(
                    f"{os.path.basename(out)}: bad_buckets={bad[:5]} "
                    f"errored={errored} missing={missing} extra={extra} "
                    f"lineage_gap={lost}")

        # seeded sample of the last output vs the single-node path
        texts = dict(zip(zip(src.column("conv_id").to_pylist(),
                             src.column("turn_idx").to_pylist()),
                         src.column("text").to_pylist()))
        out = ds.dataset(self.outs[-1], format="parquet",
                         partitioning="hive").to_table(
            columns=["conv_id", "turn_idx", "title", "references"]).to_pylist()
        sample = random.Random(self.seed).sample(out, min(32, len(out)))
        mismatched = 0
        for row in sample:
            ref = render_turn(extract_turn(texts[(row["conv_id"], row["turn_idx"])] or ""))
            want_title = (ref.get("title") or {}).get("content")
            got_title = (row["title"] or {}).get("content")
            want_refs = [(r["content"], r.get("order")) for r in ref.get("references") or []]
            got_refs = [(r["content"], r["order"]) for r in row["references"] or []]
            if want_title != got_title or want_refs != got_refs:
                mismatched += 1
        if mismatched:
            problems.append(f"sample: {mismatched}/{len(sample)} turns differ "
                            "from core.extract_turn + render_turn")
        failed += mismatched
        return attempted, failed, {"problems": problems,
                                   "sample_checked": len(sample)}


class StreamDrops(Workload):
    """Closed loop with one client: write a 125-turn drop, run
    ``streaming.extract_stream.start_file_stream(trigger_once=True)``
    on the shared checkpoint, wait for the commit, then write the next
    drop."""

    drop_rows = 125
    warmup_drops = 2

    def __init__(self, spark, work, seed, n_docs):
        super().__init__(spark, work, seed)
        self.n_docs = n_docs
        self.tr_dir = os.path.join(work, "transcripts")
        self.in_dir = os.path.join(work, "stream", "in")
        self.out_dir = os.path.join(work, "stream", "out")
        self.ckpt = os.path.join(work, "stream", "checkpoint")
        self.outs = [self.out_dir]
        self.dropped = 0

    def build_inputs(self) -> None:
        inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"),
            self.n_docs, self.seed)
        inputs.build_transcripts(self.spark, self.docs_dir, self.tr_dir, 2)
        pool = pq.read_table(self.tr_dir).sort_by("turn_idx")
        self.drops = [pool.slice(o, self.drop_rows)
                      for o in range(0, pool.num_rows, self.drop_rows)]

    def _drop(self) -> float:
        from pdfextract_spark.streaming.extract_stream import start_file_stream

        if self.dropped >= len(self.drops):
            raise RuntimeError("stream_drops ran out of seeded drops; "
                               "raise n_docs")
        t0 = time.time()
        pq.write_table(
            self.drops[self.dropped],
            os.path.join(self.in_dir, f"drop-{self.dropped:05d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True)
        self.dropped += 1
        query = start_file_stream(self.spark, self.in_dir, self.out_dir,
                                  self.ckpt, trigger_once=True)
        t_started = time.time()
        query.awaitTermination()
        t1 = time.time()
        if query.exception() is not None:
            raise RuntimeError(f"stream drop failed: {query.exception()}")
        ms = collections.Counter()
        for p in query.recentProgress:
            ms.update(p.get("durationMs", {}))
        self.progress.append({
            "t": t0, "start_s": t_started - t0,
            "planning_s": ms["queryPlanning"] / 1000.0,
            "add_batch_s": ms["addBatch"] / 1000.0,
            "wal_commit_s": ms["walCommit"] / 1000.0,
        })
        return t1 - t0

    def warmup(self) -> None:
        os.makedirs(self.in_dir, exist_ok=True)
        for _ in range(self.warmup_drops):
            self._drop()

    def iterate(self, i: int) -> tuple[int, list[float]]:
        rows = self.drops[self.dropped].num_rows
        return rows, [self._drop()]

    def shape(self) -> dict:
        s = inputs.transcript_shape(self.tr_dir)
        s.update(drop_rows=self.drop_rows, drops_available=len(self.drops))
        return s

    def check(self) -> tuple[int, int, dict]:
        """Every dropped row is in the output exactly once."""
        sent = collections.Counter()
        for d in self.drops[: self.dropped]:
            sent.update(zip(d.column("conv_id").to_pylist(),
                            d.column("turn_idx").to_pylist()))
        got_t = ds.dataset(self.out_dir, format="parquet").to_table(
            columns=["conv_id", "turn_idx", "page_count"])
        got = collections.Counter(zip(got_t.column("conv_id").to_pylist(),
                                      got_t.column("turn_idx").to_pylist()))
        missing = sum((sent - got).values())
        extra = sum((got - sent).values())
        errored = sum(1 for p in got_t.column("page_count").to_pylist()
                      if p is None or p < 0)
        problems = []
        if missing or extra or errored:
            problems.append(f"missing={missing} duplicate_or_extra={extra} "
                            f"errored={errored}")
        return sum(sent.values()), missing + extra + errored, {
            "problems": problems, "drops": self.dropped}


class NearDup(Workload):
    """``plans.driver_queries.QUERIES["near_dup_dedup"]`` over the
    planted-mirror corpus of the seeded documents, result committed as
    parquet; checked against its DuckDB oracle."""

    def __init__(self, spark, work, seed, n_docs):
        super().__init__(spark, work, seed)
        self.n_docs = n_docs
        self.dup_share = None  # set by check() from the oracle result

    def build_inputs(self) -> None:
        inputs.write_documents(
            os.path.join(self.docs_dir, "documents.parquet"),
            self.n_docs, self.seed)
        ids = range(self.n_docs)
        # base docs plus the %5, %10 and %4 mirrors the query plants
        self.corpus_rows = self.n_docs + sum(
            (i % 5 == 0) + (i % 10 == 0) + (i % 4 == 0) for i in ids)

    def _query(self, out: str, docs_dir: str | None = None) -> None:
        from pdfextract_spark.operators.fence import fence_scope
        from pdfextract_spark.plans.driver_queries import QUERIES

        with fence_scope():
            QUERIES["near_dup_dedup"](
                self.spark, docs_dir or self.docs_dir).write.parquet(out)

    def warmup(self) -> None:
        # the same query over a small corpus compiles the same plans
        small = os.path.join(self.work, "warmup-inputs")
        inputs.write_documents(os.path.join(small, "documents.parquet"),
                               self.n_docs // 10, self.seed)
        self._query(os.path.join(self.work, "out", "warmup"), small)

    def iterate(self, i: int) -> tuple[int, list[float]]:
        out = self.out_path(i)
        t0 = time.time()
        self._query(out)
        self.outs.append(out)
        return self.corpus_rows, [time.time() - t0]

    def shape(self) -> dict:
        return {"rows": self.corpus_rows, "base_docs": self.n_docs,
                "duplicate_share": self.dup_share}

    def check(self) -> tuple[int, int, dict]:
        """Order-insensitive value hash of each committed result equals
        the DuckDB oracle's (the tools/check_oracle.py method)."""
        import duckdb

        from pdfextract_spark.plans.driver_queries import ORACLES
        from tools.check_oracle import norm_cell, table_hash

        con = duckdb.connect()
        try:
            path = os.path.join(self.docs_dir, "documents.parquet")
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            rel = con.sql(ORACLES["near_dup_dedup"])
            ocols, orows = rel.columns, rel.fetchall()
        finally:
            con.close()
        ohash = table_hash(orows, ocols)
        canon = ocols.index("is_canonical")
        self.dup_share = 1.0 - sum(1 for r in orows if r[canon]) / len(orows)

        def lines(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return collections.Counter(
                "\x01".join(norm_cell(r[i]) for i in order) for r in rows)

        attempted = failed = 0
        problems = []
        for out in self.outs:
            t = pq.read_table(out)
            cols, rows = t.column_names, list(zip(*(c.to_pylist() for c in t.columns)))
            attempted += self.corpus_rows
            if len(rows) != len(orows) or table_hash(rows, cols) != ohash:
                a, b = lines(rows, cols), lines(orows, ocols)
                diff = max(sum((a - b).values()), sum((b - a).values()))
                failed += max(diff, 1)
                problems.append(f"{os.path.basename(out)}: {diff} rows differ "
                                f"from the DuckDB oracle")
        return attempted, failed, {"problems": problems, "oracle_hash": ohash}


def make(name: str, spark, work: str, seed: int) -> Workload:
    if name == "job_full":
        return ExtractionJob(spark, work, seed, n_docs=600, turns_per_doc=2,
                             want=None)
    if name == "job_refs":
        return ExtractionJob(spark, work, seed, n_docs=600, turns_per_doc=4,
                             want=("references", "title"))
    if name == "stream_drops":
        return StreamDrops(spark, work, seed, n_docs=4000)
    if name == "near_dup":
        return NearDup(spark, work, seed, n_docs=1000)
    raise KeyError(name)


NAMES = ("job_full", "job_refs", "stream_drops", "near_dup")
