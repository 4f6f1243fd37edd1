"""Output commit: footer row counts, the concurrent table commit and the
run-scoped background pool."""

import os
import time

import pytest

from osmcoastline_spark.plans.checkpointed import run_checkpointed
from osmcoastline_spark.plans.pipeline import Options, run_pipeline
from osmcoastline_spark.sinks import CheckpointSink, commit_tables, footer_rows
from osmcoastline_spark.synth import fixture_df

# duplicated way 201 (overlap warnings + questionable ring) and an open way
# 300 (not_closed / end_point errors): every error table has rows
NODES = [
    (100, 1.10, 1.06), (101, 1.30, 1.06), (102, 1.35, 1.05), (103, 1.30, 1.04),
    (104, 1.25, 1.04), (105, 1.20, 1.04), (106, 1.15, 1.04), (107, 1.10, 1.04),
    (108, 1.05, 1.05),
    (300, 2.01, 2.01), (301, 2.04, 2.01), (302, 2.04, 2.04), (303, 2.01, 2.04),
]
WAYS = [
    (200, [106, 105, 104]),
    (201, [106, 105, 104]),
    (202, [104, 103, 102, 101, 100, 108, 107, 106]),
    (300, [300, 301, 302, 303]),
]
OPTS = Options(output_rings=True, output_lines=True, output_polygons="both")


def _active_jobs(spark):
    return list(spark.sparkContext.statusTracker().getActiveJobsIds())


def _slow(spark):
    """1000 rows per task at 50 ms each: ~50 s of work unless cancelled."""
    return spark.range(0, 4000, 1, 4).selectExpr(
        "id", "java_method('java.lang.Thread', 'sleep', 50L) AS s"
    )


def _rows(spark, path):
    """Order-insensitive digest of a committed table."""
    return sorted(repr(r) for r in spark.read.parquet(path).collect())


def test_footer_rows_match_spark_count(spark, tmp_path):
    empty = str(tmp_path / "empty")
    spark.createDataFrame([], "x int").write.parquet(empty)
    multi = str(tmp_path / "multi")
    spark.range(1000).repartition(5).write.parquet(multi)
    nested = str(tmp_path / "nested")
    spark.range(777).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(nested)

    assert len([f for f in os.listdir(multi) if f.endswith(".parquet")]) == 5
    for path in (empty, multi, nested):
        assert footer_rows(path) == spark.read.parquet(path).count(), path
    assert footer_rows(nested) == 777  # partition dirs hold every file


def test_entry_rowcount_reads_nested_footers(spark, tmp_path, monkeypatch):
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(root, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    spark.range(10).write.parquet(str(tmp_path / "t.parquet" / "top"))
    spark.range(5).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(
        str(tmp_path / "t.parquet" / "nested")
    )

    def no_spark(*args):
        raise AssertionError("fell back to a Spark count")

    monkeypatch.setattr(entry, "_read", no_spark)
    assert entry._rowcount(spark, str(tmp_path), "t") == 15


def test_footer_rows_raises_on_unreadable_file(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    with open(os.path.join(path, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    with pytest.raises(Exception):
        footer_rows(path)
    with pytest.raises(FileNotFoundError):
        footer_rows(str(tmp_path / "missing"))


def test_concurrent_commit_matches_one_by_one(spark, tmp_path):
    nodes, ways = fixture_df(spark, NODES, WAYS)
    res = run_pipeline(spark, nodes, ways, OPTS)
    try:
        assert {"land_polygons", "water_polygons", "lines", "rings"} <= set(res.tables)
        serial = CheckpointSink(str(tmp_path / "serial"))
        serial_rows = {
            name: serial.write(name, df, spatial=name in ("land_polygons", "rings"))
            for name, df in res.tables.items()
        }
        concurrent = CheckpointSink(str(tmp_path / "concurrent"))
        rows = commit_tables(concurrent, res.tables, spatial=("land_polygons", "rings"))
    finally:
        res.unpersist()

    assert list(rows) == list(res.tables)
    assert rows == serial_rows
    assert rows["error_points"] > 0 and rows["error_lines"] > 0
    for name, n in rows.items():
        assert concurrent.manifest(name)["rows"] == n
        assert _rows(spark, concurrent._dir(name)) == _rows(spark, serial._dir(name)), name


def test_failed_write_cancels_the_commit(spark, tmp_path):
    """The first failing write cancels the writes still running, and the
    commit returns only after they stopped."""
    slow = _slow(spark)
    ok = spark.createDataFrame([(1,)], "x int")

    class FailingSink(CheckpointSink):
        def write(self, stage, df, **kwargs):
            if stage == "bad":
                deadline = time.time() + 60
                while not _active_jobs(spark) and time.time() < deadline:
                    time.sleep(0.05)
                raise RuntimeError("write failed")
            return super().write(stage, df, **kwargs)

    sink = FailingSink(str(tmp_path / "out"))
    t0 = time.time()
    with pytest.raises(RuntimeError, match="write failed"):
        commit_tables(sink, {"ok": ok, "slow": slow, "bad": ok})
    assert time.time() - t0 < 30
    assert _active_jobs(spark) == []
    assert not sink.exists("slow")


def test_failed_commit_leaves_no_run_marker(spark, tmp_path, monkeypatch):
    nodes, ways = fixture_df(spark, NODES, WAYS)

    class FailingSink(CheckpointSink):
        def write(self, stage, df, **kwargs):
            if stage == "error_lines":
                raise RuntimeError("write failed")
            return super().write(stage, df, **kwargs)

    sink = FailingSink(str(tmp_path / "ckpt"))
    with pytest.raises(RuntimeError, match="write failed"):
        run_checkpointed(spark, nodes, ways, Options(output_polygons="land"), sink)
    assert _active_jobs(spark) == []
    assert sink.exists("rings_closed")  # the mid-run snapshots did commit
    assert not sink.exists("error_lines")
    assert not sink.exists("_meta_done")

    # the CLI writes meta.json only after every table committed
    from osmcoastline_spark import cli

    nodes.write.parquet(str(tmp_path / "nodes"))
    ways.write.parquet(str(tmp_path / "ways"))
    original = CheckpointSink.write

    def failing_write(self, stage, df, **kwargs):
        if stage == "error_points":
            raise RuntimeError("write failed")
        return original(self, stage, df, **kwargs)

    monkeypatch.setattr(CheckpointSink, "write", failing_write)
    out = str(tmp_path / "cli_out")
    with pytest.raises(RuntimeError, match="write failed"):
        cli.main(["--nodes", str(tmp_path / "nodes"), "--ways", str(tmp_path / "ways"),
                  "-o", out])
    assert _active_jobs(spark) == []
    assert not os.path.exists(os.path.join(out, "meta.json"))


def test_failed_run_cancels_background_jobs(spark, monkeypatch):
    """A run that raises while its background intersection checkpoint is
    still running cancels and joins it before the exception propagates."""
    from osmcoastline_spark.plans import pipeline

    def slow_pairs(segs, cell_deg):
        return _slow(spark)

    def boom(*args, **kwargs):
        deadline = time.time() + 60
        while not _active_jobs(spark) and time.time() < deadline:
            time.sleep(0.05)
        raise RuntimeError("stage failed")

    monkeypatch.setattr(pipeline, "intersection_pairs", slow_pairs)
    monkeypatch.setattr(pipeline, "close_antarctica_ring", boom)
    nodes, ways = fixture_df(spark, NODES, WAYS)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="stage failed"):
        run_pipeline(spark, nodes, ways, Options(close_distance=0))
    assert time.time() - t0 < 30
    assert _active_jobs(spark) == []
