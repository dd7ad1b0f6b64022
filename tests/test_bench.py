"""bench.py's stdout record: one line that its reader can still parse
when it keeps only the last ~2,000 characters of the run's output."""

import json

import bench


def test_headline_record_fits_capture_window():
    """Worst case: every one of the 28 entries has a 7-character
    timing, every operator query is tagged fixed_overhead, and the
    counts are wider than any real run's."""
    names = ["extract_pipeline", "extract_refs_only", *bench.BENCH_QUERIES]
    assert len(names) == len(set(names)) == 28
    queries = {n: 123.456 for n in names}
    overhead = bench.fixed_overhead({n: 0.001 for n in bench.BENCH_QUERIES})
    assert overhead == bench.BENCH_QUERIES
    record = bench.headline(
        queries, 100.0, 1024, 123_456_789_012, 123_456.7, overhead,
        bench.BANDS_FILE,
    )
    assert len(json.dumps(record)) <= 1800
    assert record["value"] == round(sum(queries.values()), 3)


def test_fixed_overhead_tags_only_sub_threshold_denominators():
    limit = bench.FIXED_OVERHEAD_DUCKDB_SEC
    got = bench.fixed_overhead(
        {"dedup_exact": limit / 2, "j1_interval_join": limit, "extra": 0.0}
    )
    assert got == ["dedup_exact"]
