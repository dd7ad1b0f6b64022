"""Resumable, checkpointed extraction runs with per-partition lineage
and metrics (BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Mechanism (Iceberg-shaped, parquet-backed in this sandbox):
- the turn keyspace is split into ``n_buckets`` stable buckets via
  pmod(xxhash64(conv_id, turn_idx), n), computed once on the input;
  the hash scheme is versioned (``BUCKET_HASH_V``) in every lineage row
- the bucket is the physical partition: each batch's input is
  hash-repartitioned by ``bucket`` before the kernel stage (the job's
  one added shuffle, moving input rows only), so every bucket is
  extracted by exactly one task and committed as exactly one parquet
  file under ``bucket=<b>`` — the lineage unit and the file agree
- the bucket rides through the kernel stage as a carried column, so
  the output is never re-hashed (with Iceberg the partitioning is a
  hidden ``bucket(conv_id, N)``-style transform and each batch commit
  is a snapshot)
- after each bucket-batch commit, one lineage row per bucket is
  appended to ``<out>/_lineage`` recording rows/chars/regions/refs;
  the rows are built on the driver from a JVM-only aggregate
- invariant: Python tasks run only in the kernel stage.  Every other
  stage of the job (input scan, shuffle, write, lineage aggregate) is
  JVM-only, because each Python task pays a fixed worker set-up
  however little it does
- ``resume=True`` reads the lineage table and processes only buckets
  without a committed lineage row; re-running a partially-failed job
  is idempotent (dynamic partition overwrite replaces any partial
  bucket output); ``resume=False`` deletes ``out_dir`` first
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.extract import extract
from .settings import DEFAULT, Settings

LINEAGE_SUBDIR = "_lineage"


# Version of the bucket-assignment scheme below.  Every lineage row
# records it and resume refuses lineage written under another value:
# a changed hash (or changed hash-input types) silently re-assigns
# rows across already-'done' bucket ids.  Bump on ANY change to
# with_bucket's expression.
BUCKET_HASH_V = 1


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable bucket from (conv_id, turn_idx).  Applied once, to the
    job's INPUT — the extraction stage carries the column through to
    the output, which is never hashed again.

    The hash inputs are pinned to (string, int) FIRST: xxhash64 of
    the same value under a different type is a different hash (int 5
    vs bigint 5 land in different buckets, verified), so without the
    pin a resume over an input whose turn_idx arrived as bigint would
    assign rows to other buckets than the committed lineage did."""
    return df.withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(
                F.col("conv_id").cast("string"),
                F.col("turn_idx").cast("int"),
            ),
            F.lit(n_buckets),
        ).cast("int"),
    )


def completed_buckets(
    spark: SparkSession, out_dir: str, n_buckets: int | None = None
) -> set[int]:
    """Bucket ids with a committed lineage row.  Only a MISSING
    lineage path means "nothing done yet" — any other read failure
    propagates (swallowing it would silently reprocess a finished job
    and append duplicate lineage rows).  A lineage table recorded
    under another bucket-hash scheme (``bucket_hash_v``) or, when
    ``n_buckets`` is given, under a different bucket count refuses to
    resume: the old bucket ids would mis-assign rows under the new
    bucketing, silently skipping data.  Rows written before a pin
    existed carry NULL and pass."""
    # empty-start classification shared with the streaming bloom
    # store — see ioutil.is_empty_start_exc for why only missing-path
    # reads may map to "nothing committed yet"
    from .ioutil import read_parquet_or_none

    lineage = read_parquet_or_none(
        spark, f"{out_dir}/{LINEAGE_SUBDIR}", merge_schema=True
    )
    if lineage is None:
        return set()
    pins = {"bucket_hash_v": BUCKET_HASH_V}
    if n_buckets is not None:
        pins["n_buckets"] = n_buckets
    for name, want in pins.items():
        if name not in lineage.columns:
            continue
        bad = (
            lineage.where(F.col(name).isNotNull() & (F.col(name) != want))
            .select(name)
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"lineage at {out_dir} was committed with "
                f"{name}={bad[0][0]}; resuming with {name}={want} would "
                f"assign different rows to already-'done' bucket ids — "
                f"rerun with the original bucketing or a fresh out_dir"
            )
    rows = lineage.select("bucket").distinct().collect()
    return {r[0] for r in rows}


# Per-bucket sums every lineage row carries, in column order.
LINEAGE_SUMS = (
    "rows_out",
    "chars_in",
    "chars_truncated",
    "regions_found",
    "sections_found",
    "refs_matched",
    "turns_errored",
)
# The lineage file schema, pinned in Arrow so the driver-side build
# cannot drift between int32 and int64 with the Python values.
LINEAGE_ARROW = pa.schema(
    [("bucket", pa.int32())]
    + [(c, pa.int64()) for c in LINEAGE_SUMS]
    + [
        ("n_buckets", pa.int32()),
        ("bucket_hash_v", pa.int32()),
        ("committed_at", pa.float64()),
    ]
)


def _commit_lineage(
    spark: SparkSession,
    result: DataFrame,
    batch: list[int],
    n_buckets: int,
    out_dir: str,
) -> None:
    """Append one lineage row per SCHEDULED bucket of ``batch``,
    zero-filled for empty ones — a bucket with no input rows must still
    commit, or resume would reprocess it forever.

    Built on the driver: the aggregate over the persisted result is a
    JVM-only job of at most ``len(batch)`` rows, and an Arrow table
    becomes a ``LocalRelation``.  A list of tuples would go through
    ``SparkContext.parallelize`` and cost a Python-worker stage per
    batch for a handful of integers.  The write is coalesced to one
    file: a ``LocalRelation`` scans as one partition per row up to
    ``defaultParallelism``, which wrote that many tiny files per
    batch."""
    agg = result.groupBy("bucket").agg(
        F.count("*").alias("rows_out"),
        F.sum("metrics.chars_in").alias("chars_in"),
        F.sum("metrics.chars_truncated").alias("chars_truncated"),
        F.sum("metrics.regions_found").alias("regions_found"),
        F.sum("metrics.sections_found").alias("sections_found"),
        F.sum("metrics.refs_matched").alias("refs_matched"),
        F.sum(F.when(F.col("page_count") < 0, 1).otherwise(0)).alias(
            "turns_errored"
        ),
    )
    got = {r["bucket"]: r.asDict() for r in agg.collect()}
    zero = dict.fromkeys(LINEAGE_SUMS, 0)
    cols = {"bucket": batch}
    for c in LINEAGE_SUMS:
        # a NULL sum (all inputs NULL) commits as 0, like a missing bucket
        cols[c] = [got.get(b, zero)[c] or 0 for b in batch]
    cols["n_buckets"] = [n_buckets] * len(batch)
    cols["bucket_hash_v"] = [BUCKET_HASH_V] * len(batch)
    cols["committed_at"] = [time.time()] * len(batch)
    spark.createDataFrame(pa.table(cols, schema=LINEAGE_ARROW)).coalesce(
        1
    ).write.mode("append").parquet(f"{out_dir}/{LINEAGE_SUBDIR}")


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    settings: Settings = DEFAULT,
    n_buckets: int = 64,
    buckets_per_batch: int = 16,
    resume: bool = True,
    on_error: str = "fail",
    want: tuple[str, ...] | None = None,
) -> DataFrame:
    """Execute the extraction over all (remaining) buckets in batches,
    committing output + lineage per batch.  Returns the lineage table.

    Batches bound the blast radius of a failure: a crash loses at most
    one uncommitted batch, and ``resume=True`` picks up from the last
    committed lineage row.  ``resume=False`` deletes ``out_dir`` —
    the ``bucket=*`` partitions and the lineage — before the first
    batch, so the output holds exactly this run.  With Iceberg,
    replace the parquet writes with
    ``writeTo(...).overwritePartitions()`` — the logic is unchanged.
    """
    # per-job override, restored afterwards — permanently flipping the
    # session's overwrite semantics would change unrelated later writes
    _OVR = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(_OVR, None)
    spark.conf.set(_OVR, "dynamic")
    try:
        src = with_bucket(transcripts, n_buckets)

        if resume:
            done = completed_buckets(spark, out_dir, n_buckets)
        else:
            # a full reprocess starts from an EMPTY out_dir: lineage
            # appends per batch (a second generation would double
            # every metric sum), and dynamic partition overwrite only
            # replaces partitions the rerun writes — a bucket that is
            # empty this time, or an id past a smaller n_buckets,
            # would keep the old generation's rows unaccounted for
            from .ioutil import delete_path

            delete_path(spark, out_dir)
            done = set()
        todo = [b for b in range(n_buckets) if b not in done]

        for i in range(0, len(todo), buckets_per_batch):
            batch = todo[i : i + buckets_per_batch]
            # cluster by bucket BEFORE the kernel: each bucket lands in
            # one task and so one file, instead of one file per input
            # split per bucket.  The shuffle moves only input rows,
            # and the task count stays at most the cluster's slots, so
            # the Python stage gets no extra tasks.  Known hash skew:
            # with 16 buckets over 4 tasks the busiest task gets 6-7
            # buckets (5 in one of a 64-bucket job's four batches),
            # against a mean of 4.
            part = src.where(F.col("bucket").isin(batch)).repartition(
                min(len(batch), spark.sparkContext.defaultParallelism),
                "bucket",
            )
            # the bucket is carried through the kernel stage (a
            # verbatim Arrow column copy), not re-hashed on the output.
            # persist(): the output write and the lineage aggregation
            # both consume the result, and the extraction kernel is
            # the dominant cost — without the persist it would run
            # twice per batch.  Alternatives measured on the job
            # benchmark (1,200 turns, 64 buckets, 4 cores) and
            # rejected:
            # - one task per bucket: 30% slower; every PySpark task
            #   pays a fixed worker set-up however few rows it has —
            #   setup_spark_files -> importlib.invalidate_caches(),
            #   which on CPython 3.11 re-reads pyspark.zip's directory
            #   once per cached zipimporter (profiled: 16 importers,
            #   26.7k entries, ~0.25 CPU-s per task even for an
            #   identity mapInArrow);
            # - repartitionByRange: no faster than hash, and it adds
            #   a sampling job;
            # - no persist, lineage read back from the committed
            #   files: 5-16% fewer rows/s at this size;
            # - lineage through DataFrame.observe(): slower still.
            result = extract(
                part, settings, on_error=on_error, want=want,
                carry=("bucket",),
            ).persist()
            try:
                result.write.mode("overwrite").partitionBy(
                    "bucket"
                ).parquet(out_dir)
                _commit_lineage(spark, result, batch, n_buckets, out_dir)
            finally:
                result.unpersist()
    finally:
        if prev_mode is None:
            spark.conf.unset(_OVR)
        else:
            spark.conf.set(_OVR, prev_mode)

    # mergeSchema: lineage written before a schema addition (e.g.
    # turns_errored, n_buckets) must still read consistently on
    # resumed jobs
    return spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/{LINEAGE_SUBDIR}"
    )


def salted_conv_partials(result: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Phase 1 of the skew-safe conv rollup: partial aggregates per
    (conv_id, salt) so no single task ever sees a whole hot
    conversation.  Exposed separately so tests can assert the bound on
    the production salting, not a reimplementation."""
    salted = result.withColumn(
        "_salt", F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))
    )
    return salted.groupBy("conv_id", "_salt").agg(
        F.count("*").alias("turns"),
        F.sum("metrics.chars_in").alias("chars_in"),
        F.sum("metrics.refs_matched").alias("refs_matched"),
    )


def conv_metrics_rollup(result: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Conversation-level metric rollup with two-phase (salted)
    aggregation — the one place conv-level skew matters (SURVEY.md §4
    'Skewed long conversations'): a 10^8-turn conversation would
    hot-spot a naive groupBy(conv_id), so partials are computed per
    (conv_id, salt) first, then combined."""
    partial = salted_conv_partials(result, salt_buckets)
    return partial.groupBy("conv_id").agg(
        F.sum("turns").alias("turns"),
        F.sum("chars_in").alias("chars_in"),
        F.sum("refs_matched").alias("refs_matched"),
    )


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    storage: str = "auto",
) -> str:
    """Storage-dispatching sink: Iceberg ``writeTo`` when ``target`` is
    a catalog identifier (``catalog.db.table``) and an Iceberg catalog
    is on the classpath, parquet path otherwise.  Keeps every plan
    upstream identical — the north_rule's Iceberg story concretely:
    swapping storage is this one function.  Returns 'iceberg' or
    'parquet' for the path taken.

    Dispatch is explicit-first: ``storage='iceberg'`` / ``'parquet'``
    forces the branch, as does an ``iceberg:`` target prefix.  In
    ``'auto'`` mode a slash-free dotted string is an Iceberg
    identifier *unless* it ends in a file extension (``.parquet`` /
    ``.pq``), so a relative path like ``'out.parquet'`` writes parquet
    instead of erroring on a missing catalog."""
    if storage not in ("auto", "iceberg", "parquet"):
        raise ValueError(f"storage must be auto|iceberg|parquet, got {storage!r}")
    if target.startswith("iceberg:"):
        if storage == "parquet":
            raise ValueError(
                f"contradictory dispatch: target {target!r} has an "
                f"'iceberg:' prefix but storage='parquet' was passed"
            )
        target = target[len("iceberg:"):]
        storage = "iceberg"
    if storage == "auto":
        file_like = target.rsplit(".", 1)[-1].lower() in ("parquet", "pq")
        storage = (
            "iceberg"
            if "/" not in target and target.count(".") >= 1 and not file_like
            else "parquet"
        )
    if storage == "iceberg":
        # writeTo has no analogue for 'ignore'/'errorifexists' — map
        # only the two supported modes and refuse the rest instead of
        # silently appending to a table the caller asked to leave
        # untouched (or to fail on)
        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"mode {mode!r} is not supported on the Iceberg "
                f"branch (only 'overwrite'/'append'); the parquet "
                f"branch honors {mode!r} — pass storage='parquet'"
            )
        try:
            w = df.writeTo(target)
            if partition_by:
                from pyspark.sql.functions import col as _col

                w = w.partitionedBy(*[_col(c) for c in partition_by])
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            return "iceberg"
        except Exception as exc:  # no catalog / no iceberg jars
            raise RuntimeError(
                f"writeTo({target!r}) failed — is an Iceberg catalog "
                f"configured? Underlying error: {exc}"
            ) from exc
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
    return "parquet"
