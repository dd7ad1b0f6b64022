"""End-to-end Spark pipeline tests: extraction plan vs the single-node
kernel (golden parity), resumable sink, streaming."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

TEXTS = [
    (
        "A Study of Synthetic Layouts\n\n"
        + " ".join(["plain body words that wrap across lines nicely"] * 12)
        + "\n\nReferences\n\n"
        + " ".join(
            f"[{i}] Author{i}, X. ({1990 + i}). Paper about topic {i}. Venue."
            for i in range(1, 6)
        )
    ),
    "just a single short paragraph of text",
    "",
    "Eﬀects of “Ligatures”\n\n" + " ".join(["body content here"] * 30),
]


def make_transcripts(spark):
    rows = [(f"c{i % 2}", i, "user", t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def _as_column(value, dtype):
    """Pick ``dtype``'s fields out of a rendered kernel value, the
    shape a collected result column has after ``asDict(recursive=True)``."""
    from pyspark.sql.types import ArrayType, StructType

    if isinstance(dtype, ArrayType):
        return [_as_column(v, dtype.elementType) for v in value or ()]
    if isinstance(dtype, StructType):
        if value is None:
            return None
        return {f.name: _as_column(value.get(f.name), f.dataType) for f in dtype}
    return value


def test_extract_matches_kernel_goldens(spark):
    """The Spark plan must equal the single-node kernel + canonical
    rendering (``render_turn``), per turn, field for field over all
    nine artifacts, at the default and a non-default precision."""
    from pdfextract_spark.core import extract_turn, render_turn
    from pdfextract_spark.core.spatial import get_text_content
    from pdfextract_spark.plans import RESULT_SCHEMA, extract
    from pdfextract_spark.plans.extract import ARTIFACT_FIELDS
    from pdfextract_spark.settings import Settings

    kernel_want = tuple(
        {"title": "titles"}.get(a, a) for a in ARTIFACT_FIELDS
    )
    for precision in (2, 1):
        settings = Settings(precision=precision)
        out = {
            r["turn_idx"]: r.asDict(recursive=True)
            for r in extract(
                make_transcripts(spark), settings, want=ARTIFACT_FIELDS
            ).collect()
        }
        for i, text in enumerate(TEXTS):
            golden = render_turn(
                extract_turn(text, settings, want=kernel_want), settings
            )
            # where a column's layout differs from the kernel's dict
            golden["zones"] = [dict(z, zone=z["group"]) for z in golden["zones"]]
            golden["sections"] = [
                dict(s, content=get_text_content(s)) for s in golden["sections"]
            ]
            golden["chunks"] = [
                c for pg in sorted(golden["chunks"]) for c in golden["chunks"][pg]
            ]
            golden["margins"] = [
                dict(m, side=side)
                for pg in sorted(golden["margins"])
                for side, m in golden["margins"][pg].items()
            ]
            golden.update(conv_id=f"c{i % 2}", turn_idx=i, role="user")
            want = {
                f.name: _as_column(golden[f.name], f.dataType)
                for f in RESULT_SCHEMA
            }
            assert out[i] == want, f"turn {i} at precision {precision}"
            # rounding actually applied at this precision
            for reg in out[i]["regions"]:
                assert reg["x"] == round(reg["x"], precision)


def test_extract_ligature_transliteration(spark):
    from pdfextract_spark.plans import extract

    row = [
        r
        for r in extract(make_transcripts(spark)).collect()
        if r["turn_idx"] == 3
    ][0]
    assert row["title"]["content"] == 'Effects of "Ligatures"'


def test_resumable_sink_and_lineage(spark, tmp_path):
    from pdfextract_spark.sinks import (
        BUCKET_HASH_V,
        completed_buckets,
        conv_metrics_rollup,
        run_extraction_job,
    )

    out_dir = str(tmp_path / "out")
    t = make_transcripts(spark)
    prev_ovr = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", None
    )
    lineage = run_extraction_job(
        spark, t, out_dir, n_buckets=4, buckets_per_batch=2, resume=True
    )
    # EVERY scheduled bucket commits a lineage row — empty ones
    # zero-filled — or resume could never converge to a no-op
    assert lineage.count() == 4
    assert completed_buckets(spark, out_dir) == {0, 1, 2, 3}
    # the per-job overwrite-mode override is restored afterwards
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        == prev_ovr
    )

    # resume is a no-op when all buckets are done: lineage row count stable
    n_before = lineage.count()
    run_extraction_job(
        spark, t, out_dir, n_buckets=4, buckets_per_batch=2, resume=True
    )
    lineage2 = spark.read.parquet(f"{out_dir}/_lineage")
    assert lineage2.count() == n_before

    # resuming under a DIFFERENT bucketing is refused loudly — the old
    # bucket ids would silently mis-assign rows under the new hash
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        completed_buckets(spark, out_dir, n_buckets=8)

    result = spark.read.parquet(out_dir)
    assert result.count() == 4
    roll = conv_metrics_rollup(result).collect()
    assert {r["conv_id"] for r in roll} == {"c0", "c1"}

    # lineage records the bucket-hash scheme, and lineage committed
    # under another scheme is refused the same way
    assert {r["bucket_hash_v"] for r in lineage.collect()} == {BUCKET_HASH_V}
    other = lineage.limit(1).collect()[0].asDict()
    other["bucket_hash_v"] = BUCKET_HASH_V + 1
    spark.createDataFrame([other], lineage.schema).write.mode(
        "append"
    ).parquet(f"{out_dir}/_lineage")
    with _pytest.raises(ValueError, match="bucket_hash_v"):
        run_extraction_job(
            spark, t, out_dir, n_buckets=4, buckets_per_batch=2, resume=True
        )


def test_streaming_extraction(spark, tmp_path):
    from pdfextract_spark.streaming import start_file_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "sout")
    ck = str(tmp_path / "ck")
    t = make_transcripts(spark).withColumn("tool", F.lit(None).cast("string")).withColumn(
        "ts", F.current_timestamp()
    )
    t.write.parquet(in_dir)
    q = start_file_stream(spark, in_dir, out_dir, ck, trigger_once=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 4
    assert "references" in got.columns


def test_extraction_invariant_under_partitioning(spark):
    """Results are a pure function of each row: identical under any
    physical distribution (the determinism the north rule's 'stable
    turn ordering' requires)."""
    from pdfextract_spark.plans import extract

    t = make_transcripts(spark)

    def canon(df):
        rows = extract(df, want=("references", "title")).collect()
        return sorted(
            (r["conv_id"], r["turn_idx"], str(r["title"]), str(r["references"]))
            for r in rows
        )

    assert canon(t.repartition(1)) == canon(t.repartition(7))


def test_synth_transcripts_deterministic(spark):
    from pdfextract_spark.sources import synth_transcripts

    a = sorted(map(str, synth_transcripts(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(str, synth_transcripts(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_salted_rollup_bounds_skewed_groups(spark):
    """The PRODUCTION salted two-phase aggregation must cap per-task
    group size even when one conversation holds half the table
    (north_rule skew requirement).  Deterministic property — no timing:
    the largest partial group from sinks.salted_conv_partials must
    shrink by ~the salt fan-out relative to the naive
    groupBy(conv_id) hot group, and conv_metrics_rollup must combine
    the partials back to exact totals."""
    from pyspark.sql import functions as F

    from pdfextract_spark.sinks import conv_metrics_rollup, salted_conv_partials

    n = 4000
    # conv "hot" absorbs 50% of all turns; the rest spread over 40 convs
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 40).cast("string")))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.struct(
            (F.col("id") % 100).cast("long").alias("chars_in"),
            F.lit(0).alias("regions_found"),
            F.lit(0).alias("sections_found"),
            (F.col("id") % 3).cast("int").alias("refs_matched"),
        ).alias("metrics"),
    )
    salt_buckets = 16
    naive_max = df.groupBy("conv_id").count().agg(F.max("count")).head()[0]
    assert naive_max == n // 2
    partials = salted_conv_partials(df, salt_buckets)
    salted_max = partials.agg(F.max("turns")).head()[0]
    # xxhash64 spreads the hot conv's turn_idx values near-uniformly
    # over the salt buckets: worst partial group ~ n/2/16, allow 2x
    assert salted_max <= (naive_max // salt_buckets) * 2
    # and the combine phase reproduces exact naive aggregates
    got = {
        r["conv_id"]: (r["turns"], r["chars_in"], r["refs_matched"])
        for r in conv_metrics_rollup(df, salt_buckets).collect()
    }
    want = {
        r["conv_id"]: (r["count"], r["chars"], r["refs"])
        for r in df.groupBy("conv_id")
        .agg(
            F.count("*").alias("count"),
            F.sum("metrics.chars_in").alias("chars"),
            F.sum("metrics.refs_matched").alias("refs"),
        )
        .collect()
    }
    assert got == want


def test_extract_on_error_skip_and_fail_context(spark):
    """Production resilience: with on_error='skip', a poison turn emits
    a sentinel row (page_count=-1, empty artifacts) instead of killing
    the job; with the default 'fail', the raised error names the
    offending (conv_id, turn_idx)."""
    import pytest as _pytest

    from pdfextract_spark.plans import extract
    from pdfextract_spark.settings import Settings, Typesetter

    df = make_transcripts(spark)
    poison = Settings(typesetter=Typesetter(title_size=0.0))

    rows = extract(df, settings=poison, on_error="skip").collect()
    assert len(rows) == df.count()
    # title_size=0 only detonates on multi-paragraph turns, so the
    # batch is a realistic mix: poisoned turns -> sentinel rows,
    # healthy turns -> normal rows, and nothing is dropped
    bad = [r for r in rows if r["page_count"] == -1]
    ok = [r for r in rows if r["page_count"] >= 0]
    assert bad and ok
    assert all(r["title"] is None and r["references"] == [] for r in bad)
    # chars_in still recorded for lineage accounting
    assert all(r["metrics"]["chars_in"] > 0 for r in bad)

    with _pytest.raises(Exception) as ei:
        extract(df, settings=poison).collect()
    assert "conv_id=" in str(ei.value) and "turn_idx=" in str(ei.value)

    with _pytest.raises(ValueError):
        extract(df, on_error="bogus")


def test_reference_cli_artifact_parity(spark):
    """Reference CLI parity (bin/pdf-extract:12-15): every selectable
    object type — characters, chunks, regions, columns, semantic
    (sections/titles/references), margins, zone sub-types — is
    extractable, and the XML render supports --no-lines / --outline."""
    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.core.xmlview import render_turn_xml
    from pdfextract_spark.plans import extract

    df = make_transcripts(spark)
    full = extract(
        df,
        want=(
            "title", "regions", "zones", "columns", "sections",
            "references", "characters", "chunks", "margins",
        ),
    ).collect()
    r = {x["turn_idx"]: x for x in full}[0]
    assert len(r["characters"]) > len(r["chunks"]) > 0
    assert {m["side"] for m in r["margins"]} == {
        "top", "bottom", "left", "right"
    }
    # chunks are the typeset lines (fast path): their text joined is
    # the region text source, so content must be non-empty
    assert all(c["content"].strip() for c in r["chunks"])

    res = extract_turn(
        TEXTS[0],
        want=("regions", "margins", "chunks", "characters", "zones"),
    )
    xml_full = render_turn_xml(res)
    xml_nolines = render_turn_xml(res, lines=False)
    xml_outline = render_turn_xml(res, outline=True)
    assert "<line" in xml_full and "<line" not in xml_nolines
    assert "<margin" in xml_full and "<chunk" in xml_full
    # outline keeps geometry, drops text nodes
    assert ">References<" not in xml_outline
    only_headers = render_turn_xml(res, zone_filter=["headers"])
    assert "footers" not in only_headers


def test_read_transcripts_all_formats_equal(spark, tmp_path):
    """Transcripts arriving as parquet, ORC, JSON-lines or CSV produce
    identical extraction results (schema-enforced readers, no
    inference pass)."""
    import pytest as _pytest

    from pdfextract_spark.plans import extract
    from pdfextract_spark.sources.tables import read_transcripts

    base = make_transcripts(spark).withColumn(
        "tool", F.lit(None).cast("string")
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    def canon(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], str(r["title"]), str(r["references"]))
            for r in extract(df, want=("title", "references")).collect()
        )

    want = canon(base)
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        writer = base.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true").option("escape", '"')
        getattr(writer, "orc" if fmt == "orc" else fmt)(path) if fmt != "json" \
            else base.write.mode("overwrite").json(path)
        got = canon(read_transcripts(spark, path, format=fmt))
        assert got == want, f"format {fmt} diverged"

    with _pytest.raises(ValueError):
        read_transcripts(spark, "/tmp/x", format="avro")


def test_write_table_iceberg_branch(spark, tmp_path):
    """Exercises the writeTo branch for real when Iceberg jars are on
    the classpath (skipped otherwise — this container ships none):
    round-trips rows through a hadoop-type catalog table, proving the
    Iceberg story does not silently rot when jars ARE present."""
    import pytest as _pytest

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        _pytest.skip("iceberg runtime jars not on the classpath")
    spark.conf.set(
        "spark.sql.catalog.it_wt", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.it_wt.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it_wt.warehouse", str(tmp_path / "wh"))

    from pdfextract_spark.sinks import write_table

    df = spark.range(5).selectExpr("id", "id % 2 as b")
    assert (
        write_table(df, "it_wt.db.t", mode="overwrite", partition_by=["b"])
        == "iceberg"
    )
    assert spark.read.table("it_wt.db.t").count() == 5
    assert write_table(df, "it_wt.db.t", mode="append") == "iceberg"
    assert spark.read.table("it_wt.db.t").count() == 10


def test_mega_turn_skew_guard(spark):
    """max_turn_chars bounds the per-turn kernel cost: a pathological
    multi-MB turn is truncated at the cap with the cut recorded in
    metrics (or rejected outright with on_oversize='fail'), and the
    guarded turn still extracts normally from its kept prefix."""
    import pytest as _pytest

    from pdfextract_spark.core.pipeline import extract_turn
    from pdfextract_spark.plans.extract import extract
    from pdfextract_spark.settings import Settings

    mega = "A Title\n\n" + ("lorem ipsum body words " * 100_000)  # ~2.3 MB
    st = Settings(max_turn_chars=10_000)
    r = extract_turn(mega, st)
    m = r["metrics"]
    assert m["chars_in"] == len(mega)
    assert m["chars_truncated"] == len(mega) - 10_000
    assert r["page_count"] >= 1 and m["regions_found"] > 0
    # normal-sized turns pass through untouched
    ok = extract_turn("short turn", st)
    assert ok["metrics"]["chars_truncated"] == 0
    # fail mode rejects with an attributable error
    with _pytest.raises(ValueError, match="max_turn_chars"):
        extract_turn(mega, Settings(max_turn_chars=10_000, on_oversize="fail"))
    with _pytest.raises(ValueError, match="on_oversize"):
        Settings(on_oversize="explode")
    # the Spark path surfaces the truncation in the metrics struct
    df = spark.createDataFrame(
        [("c0", 0, "user", mega[:50_000]), ("c0", 1, "assistant", "hi there")],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = {
        r["turn_idx"]: r["metrics"]
        for r in extract(df, settings=Settings(max_turn_chars=20_000)).collect()
    }
    assert out[0]["chars_truncated"] == 30_000
    assert out[1]["chars_truncated"] == 0


def test_pipeline_goldens_current(spark):
    """The committed golden parquets (exact oracles for the UDF-bound
    pipeline queries) must match what the kernel computes TODAY — a
    semantic change without `tools/freeze_pipeline_goldens.py` fails
    here, not silently in the driver's gate.  pipeline_metrics is the
    cheapest whole-pipeline checksum (chars/regions/refs over every
    turn); pipeline_references pins the exact extracted strings."""
    import pandas as pd

    from pdfextract_spark.plans.driver_queries import QUERIES

    root = __file__.rsplit("/", 2)[0]
    for name in ("pipeline_metrics", "pipeline_references"):
        want = pd.read_parquet(
            f"{root}/goldens/pipeline/sf0.001/{name}.parquet"
        )
        cols = list(want.columns)
        want = want.sort_values(cols, ignore_index=True)
        got = (
            QUERIES[name](spark, "/root/testdata/sf0.001")
            .toPandas()[cols]
            .sort_values(cols, ignore_index=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every golden the oracles point at exists, at all swept SFs
    import os

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for name in (
            "pipeline_references pipeline_titles pipeline_regions "
            "pipeline_metrics pipeline_sections pipeline_zones "
            "pipeline_conv_rollup pipeline_resolved_references "
            "pipeline_font_metrics pipeline_page_dims pipeline_masks"
        ).split():
            assert os.path.exists(f"{root}/goldens/pipeline/{sf}/{name}.parquet")


def test_write_table_dispatch(spark, tmp_path):
    """Storage dispatch: parquet for paths (partitioned, readable
    round-trip); catalog identifiers raise a clear error when no
    Iceberg catalog is configured (this container has no iceberg
    jars)."""
    import pytest as _pytest

    from pdfextract_spark.sinks import write_table

    df = spark.range(12).selectExpr("id", "id % 4 as b")
    out = str(tmp_path / "t")
    assert write_table(df, out, mode="overwrite", partition_by=["b"]) == "parquet"
    back = spark.read.parquet(out)
    assert back.count() == 12 and "b" in back.columns
    with _pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_table(df, "main.db.tbl", mode="overwrite")
    # a dotted *filename* is a parquet path, not a catalog identifier
    rel = str(tmp_path / "out.parquet")
    assert write_table(df, rel, mode="overwrite") == "parquet"
    assert spark.read.parquet(rel).count() == 12
    # explicit dispatch overrides auto-detection both ways
    with _pytest.raises(RuntimeError, match="Iceberg catalog"):
        write_table(df, "iceberg:main.db.tbl", mode="overwrite")
    forced = str(tmp_path / "forced.out")
    assert write_table(df, forced, storage="parquet", mode="overwrite") == "parquet"
    with _pytest.raises(ValueError, match="storage"):
        write_table(df, forced, storage="csv")
    # contradictory prefix + explicit storage is rejected, not guessed
    with _pytest.raises(ValueError, match="contradictory"):
        write_table(df, "iceberg:db.t", storage="parquet")


def test_extract_carry_columns(spark):
    """carry= passes input columns through the 1:1 Arrow stage
    verbatim (event-time ts for streaming watermarks, or any caller
    metadata); colliding names are rejected loudly."""
    import datetime

    import pytest as _pytest

    from pdfextract_spark.plans.extract import extract

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("c0", i, "user", t, base + datetime.timedelta(seconds=i))
        for i, t in enumerate(TEXTS)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp",
    )
    out = extract(df, want=("references",), carry=("ts",))
    assert out.columns[-1] == "ts"
    got = {r["turn_idx"]: r["ts"] for r in out.collect()}
    assert got == {
        i: base + datetime.timedelta(seconds=i) for i in range(len(TEXTS))
    }
    with _pytest.raises(ValueError, match="collide"):
        extract(df, carry=("role",))


def test_completed_buckets_error_classification(spark, tmp_path):
    """Benign 'nothing committed yet' reads return set(): a missing
    lineage path and an empty lineage dir (crash between mkdir and
    first task commit).  Any OTHER AnalysisException — e.g. column
    resolution against an existing table — must propagate: mapping it
    to set() would silently restart all buckets and append duplicate
    lineage rows."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from pdfextract_spark.sinks import completed_buckets

    # missing path
    assert completed_buckets(spark, str(tmp_path / "never_written")) == set()
    # existing but empty lineage dir
    empty = tmp_path / "empty_out"
    (empty / "_lineage").mkdir(parents=True)
    assert completed_buckets(spark, str(empty)) == set()

    # non-benign AnalysisException propagates (stub reader raises the
    # kind of resolution error a real-but-broken lineage table would)
    class _Reader:
        def option(self, *a):
            return self

        def parquet(self, path):
            raise AnalysisException(
                message="[UNRESOLVED_COLUMN] cannot resolve 'bucket'",
                errorClass="UNRESOLVED_COLUMN",
            )

    class _Spark:
        @property
        def read(self):
            return _Reader()

    with _pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
        completed_buckets(_Spark(), str(tmp_path / "whatever"))


def test_extract_null_turn_idx_obeys_on_error(spark):
    """A permissive JSON read keeps malformed rows as all-NULL; the
    int(turn_idx) coercion used to sit outside the poison-tolerance
    try, so one NULL turn_idx killed the job even under
    on_error='skip'.  Now: 'skip' keeps the row (NULL turn_idx),
    'fail' raises with attribution."""
    import pytest

    from pdfextract_spark.plans.extract import extract

    df = spark.createDataFrame(
        [("c1", 0, "user", "fine text"), ("c1", None, "user", "poison")],
        "conv_id string, turn_idx int, role string, text string",
    )
    rows = extract(df, on_error="skip", want=()).collect()
    assert len(rows) == 2
    assert sorted(
        (r["turn_idx"] is None) for r in rows
    ) == [False, True]
    with pytest.raises(Exception, match="NULL turn_idx"):
        extract(df, on_error="fail", want=()).collect()


def test_extract_rejects_unknown_want(spark):
    """A misspelled artifact name ('titles', 'refs') silently
    produced rows with the artifact missing; it must raise."""
    import pytest

    from pdfextract_spark.plans.extract import extract

    df = spark.createDataFrame(
        [("c1", 0, "user", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    with pytest.raises(ValueError, match="titles"):
        extract(df, want=("titles",))


def test_with_bucket_type_stable(spark):
    """xxhash64 of the same value under a different integer width is
    a DIFFERENT hash, so the bucket of a turn must not depend on
    whether turn_idx arrived as int or bigint — otherwise a resume
    over a re-typed input assigns rows to other buckets than the
    committed lineage did.  The hash inputs are pinned to (string,
    int) first."""
    from pdfextract_spark.sinks import with_bucket

    as_int = spark.createDataFrame(
        [("c", 5), ("d", 123456)], "conv_id string, turn_idx int"
    )
    as_big = spark.createDataFrame(
        [("c", 5), ("d", 123456)], "conv_id string, turn_idx bigint"
    )
    bi = {(r["conv_id"], r["turn_idx"]): r["bucket"]
          for r in with_bucket(as_int, 64).collect()}
    bb = {(r["conv_id"], r["turn_idx"]): r["bucket"]
          for r in with_bucket(as_big, 64).collect()}
    assert bi == bb, (bi, bb)


def _multi_file_transcripts(spark, tmp_path, n=64, files=4):
    """A transcripts table of ``files`` parquet files, ``n`` turns
    cycling through TEXTS (so refs_matched is non-zero), read back
    through the production reader."""
    from pdfextract_spark.sources.tables import read_transcripts

    path = str(tmp_path / "transcripts")
    rows = [(f"c{i % 8}", i, "user", TEXTS[i % len(TEXTS)]) for i in range(n)]
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    ).repartition(files).write.parquet(path)
    assert len(_data_files(path)) == files
    return read_transcripts(spark, path)


def _data_files(path):
    import os

    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _keys(df):
    return sorted((r["conv_id"], r["turn_idx"]) for r in df.collect())


def test_resume_false_truncates_lineage(spark, tmp_path):
    """resume=False reprocesses everything from an empty out_dir.
    Lineage used to APPEND a second generation of rows (every
    downstream metric sum then double-counted), and dynamic partition
    overwrite replaces only the partitions a run writes, so a bucket
    with no input rows in the rerun kept its old rows on disk,
    unaccounted for by the fresh lineage."""
    from pdfextract_spark.sinks import run_extraction_job, with_bucket
    from pdfextract_spark.sources import synth_transcripts

    out = str(tmp_path / "out")
    t = with_bucket(
        synth_transcripts(spark, "/root/testdata/sf0.001", turns_per_doc=1),
        4,
    )
    l1 = run_extraction_job(
        spark, t.drop("bucket"), out, n_buckets=4, buckets_per_batch=4,
        resume=False,
    )
    assert l1.count() == 4
    gone = t.select("bucket").first()["bucket"]
    shrunk = t.where(F.col("bucket") != gone).drop("bucket")
    l2 = run_extraction_job(
        spark, shrunk, out, n_buckets=4, buckets_per_batch=4, resume=False
    )
    assert l2.count() == 4  # fresh generation, not 8 stacked rows
    got = spark.read.parquet(out)
    assert got.where(F.col("bucket") == gone).count() == 0
    assert _keys(got.select("conv_id", "turn_idx")) == _keys(shrunk)


def test_one_file_per_bucket(spark, tmp_path):
    """Each batch is clustered by bucket before the kernel stage, so a
    bucket is written by one task into one file — not one file per
    input split — and every row sits in the partition of its own
    (conv_id, turn_idx) hash."""
    import os

    from pdfextract_spark.sinks import run_extraction_job, with_bucket

    out = str(tmp_path / "out")
    t = _multi_file_transcripts(spark, tmp_path)
    run_extraction_job(
        spark, t, out, n_buckets=8, buckets_per_batch=4, resume=False
    )
    dirs = sorted(d for d in os.listdir(out) if d.startswith("bucket="))
    assert dirs == [f"bucket={b}" for b in range(8)]
    for d in dirs:
        assert len(_data_files(os.path.join(out, d))) == 1, d

    got = spark.read.parquet(out).withColumnRenamed("bucket", "dir_bucket")
    assert got.count() == t.count()
    assert (
        with_bucket(got, 8).where(F.col("bucket") != F.col("dir_bucket"))
        .count()
        == 0
    )


def test_crash_resume_exactly_once_clustered(spark, tmp_path, monkeypatch):
    """A batch that fails before its commit, then a resume=True rerun:
    every input turn is in the output exactly once, every bucket has
    one lineage row and one file, and refs_matched equals an
    uninterrupted run's."""
    import collections
    import os

    from pdfextract_spark import sinks

    t = _multi_file_transcripts(spark, tmp_path)
    job = dict(n_buckets=8, buckets_per_batch=2)

    clean = sinks.run_extraction_job(
        spark, t, str(tmp_path / "clean"), resume=False, **job
    )
    want_refs = {r["bucket"]: r["refs_matched"] for r in clean.collect()}
    assert sum(want_refs.values()) > 0

    real_extract = sinks.extract
    calls = []

    def crash_on_second(*a, **kw):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated crash before the batch commit")
        return real_extract(*a, **kw)

    out = str(tmp_path / "out")
    monkeypatch.setattr(sinks, "extract", crash_on_second)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sinks.run_extraction_job(spark, t, out, resume=False, **job)
    assert sinks.completed_buckets(spark, out, 8) == {0, 1}
    monkeypatch.setattr(sinks, "extract", real_extract)

    lineage = sinks.run_extraction_job(spark, t, out, resume=True, **job)

    counts = collections.Counter(
        _keys(spark.read.parquet(out).select("conv_id", "turn_idx"))
    )
    assert sorted(counts) == _keys(t.select("conv_id", "turn_idx"))
    assert set(counts.values()) == {1}
    lin = lineage.collect()
    assert sorted(r["bucket"] for r in lin) == list(range(8))
    for b in range(8):
        assert len(_data_files(os.path.join(out, f"bucket={b}"))) == 1, b
    assert {r["bucket"]: r["refs_matched"] for r in lin} == want_refs


def test_job_runs_no_python_rdd(spark, tmp_path, monkeypatch):
    """The job's only Python tasks are the kernel's: nothing in it goes
    through SparkContext.parallelize, whose LogicalRDD would run a
    Python-worker stage per batch (the lineage zero-fill used to)."""
    import pyspark

    from pdfextract_spark.sinks import run_extraction_job

    t = make_transcripts(spark).persist()
    try:
        n = t.count()

        def no_rdd(*a, **kw):
            raise AssertionError("SparkContext.parallelize called")

        monkeypatch.setattr(pyspark.SparkContext, "parallelize", no_rdd)
        lineage = run_extraction_job(
            spark, t, str(tmp_path / "out"), n_buckets=8,
            buckets_per_batch=4, resume=False,
        )
        assert lineage.agg(F.sum("rows_out")).first()[0] == n
    finally:
        t.unpersist()


def test_lineage_schema_pinned_and_zero_filled(spark, tmp_path):
    """The driver-built lineage keeps the file schema exactly (no
    int32/int64 drift), counts a poison turn under on_error='skip',
    commits an all-zero row for a scheduled bucket with no input rows,
    and writes one lineage file per committed batch."""
    from pdfextract_spark.settings import Settings, Typesetter
    from pdfextract_spark.sinks import (
        LINEAGE_SUBDIR,
        LINEAGE_SUMS,
        run_extraction_job,
        with_bucket,
    )

    # title_size=0 detonates only on multi-paragraph turns: TEXTS[0]
    # is the one poison turn, the single-paragraph ones extract
    rows = [("c0", 0, "user", TEXTS[0])] + [
        ("c1", i, "user", TEXTS[1]) for i in range(1, 4)
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    poison = Settings(typesetter=Typesetter(title_size=0.0))
    lineage = run_extraction_job(
        spark, t, str(tmp_path / "out"), settings=poison, n_buckets=8,
        buckets_per_batch=4, resume=False, on_error="skip",
    )
    assert lineage.schema.simpleString() == (
        "struct<bucket:int,rows_out:bigint,chars_in:bigint,"
        "chars_truncated:bigint,regions_found:bigint,"
        "sections_found:bigint,refs_matched:bigint,turns_errored:bigint,"
        "n_buckets:int,bucket_hash_v:int,committed_at:double>"
    )
    lin = {r["bucket"]: r for r in lineage.collect()}
    assert sorted(lin) == list(range(8))
    assert sum(r["rows_out"] for r in lin.values()) == len(rows)
    assert sum(r["turns_errored"] for r in lin.values()) == 1
    poison_bucket = with_bucket(t, 8).where("turn_idx = 0").first()["bucket"]
    assert lin[poison_bucket]["turns_errored"] == 1

    used = {r["bucket"] for r in with_bucket(t, 8).collect()}
    empty = sorted(set(range(8)) - used)
    assert empty  # 4 turns cannot fill 8 buckets
    for b in empty:
        assert all(lin[b][c] == 0 for c in LINEAGE_SUMS), lin[b]
        assert lin[b]["n_buckets"] == 8

    # 8 buckets in batches of 4: two commits, one file each
    files = list((tmp_path / "out" / LINEAGE_SUBDIR).glob("part-*.parquet"))
    assert len(files) == 2, sorted(f.name for f in files)


def test_write_table_iceberg_rejects_unsupported_modes(spark, tmp_path):
    """writeTo has no 'ignore'/'errorifexists' analogue; the Iceberg
    branch used to silently APPEND for those modes."""
    import pytest

    from pdfextract_spark.sinks import write_table

    df = spark.range(3)
    with pytest.raises(ValueError, match="ignore"):
        write_table(df, "cat.db.t", mode="ignore", storage="iceberg")


def test_streaming_star_surface_complete():
    """__all__ must list the module's own functions alongside the
    TRANSCRIPT_DDL re-export (a re-export-only __all__ hid them from
    star imports)."""
    import importlib

    m = importlib.import_module(
        "pdfextract_spark.streaming.extract_stream"
    )
    for name in ("extract_stream", "start_file_stream",
                 "streaming_conv_metrics", "streaming_dedup_exact"):
        assert name in m.__all__ and hasattr(m, name)
