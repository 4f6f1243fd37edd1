"""S6/S8 — multi-layer sink with snapshot checkpoints, lineage and metrics.

Production shape (north rule): each pipeline stage commits an Iceberg table
snapshot; resume = start from the last committed stage. This container has
no Iceberg runtime, so the same contract is implemented as parquet dirs plus
an atomic `_MANIFEST.json` written *after* the data — a stage directory
without a manifest is an uncommitted snapshot and is ignored on resume.

Commit protocol for a run's output (`commit_tables`): every table is
written concurrently, each by its own `sink.write`; a table's manifest
lands only after its data, with the row count summed from the parquet
footers of the files just written (no read-back job). The first failing
write cancels the others and the commit raises; callers write the run
marker (`meta.json`, `_meta_done`) last, only after every table committed.

Spatial layout: geometry tables are written sorted by a Morton (Z-order)
code of their envelope center — the Iceberg sort-order / metadata-pruning
stand-in (reference's spatialite spatial index, output_database.cpp:241-256).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from concurrent.futures import as_completed

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmcoastline_spark.cells import morton_interleave_expr
from osmcoastline_spark.geom import MERC
from osmcoastline_spark.util import TaggedPool

MANIFEST = "_MANIFEST.json"


def _zorder(df: DataFrame, spatial: bool, extent) -> DataFrame:
    """Sort each partition by the Morton code of the envelope center. The
    helper column is dropped AFTER the sort: persisting it would give
    resumed tables a different schema than fresh-run tables and than
    manifest['schema']."""
    if not spatial or not {"env_minx", "env_maxx", "env_miny", "env_maxy"} <= set(df.columns):
        return df
    cx = (F.col("env_minx") + F.col("env_maxx")) / 2
    cy = (F.col("env_miny") + F.col("env_maxy")) / 2
    code = morton_interleave_expr(cx, cy, extent=extent or (-180.0, 180.0, -90.0, 90.0))
    return df.withColumn("zorder", code).sortWithinPartitions("zorder").drop("zorder")


def footer_rows(path: str) -> int:
    """Exact row count of a parquet file or dataset directory, summed from
    the file footers on the driver (no Spark job). Walks nested layouts and
    skips the `_`/`.` names Spark's listing skips, so it equals
    `spark.read.parquet(path).count()`; an unreadable data file raises."""
    import pyarrow.parquet as pq

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        total += sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f in files if not hidden(f)
        )
    return total


class CheckpointSink:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def exists(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage), MANIFEST))

    def write(self, stage: str, df: DataFrame, *, spatial: bool = False,
              lineage: dict | None = None,
              extent: tuple[float, float, float, float] | None = None) -> int:
        """Commit a stage snapshot; returns row count. `extent` is the
        coordinate extent for the z-order layout (degrees by default;
        callers writing epsg=3857 geometry must pass the WebMercator
        square or the metre-valued envelopes degenerate the Morton
        code and the spatial file layout is silently lost)."""
        path = self._dir(stage)
        _zorder(df, spatial, extent).write.mode("overwrite").parquet(path)
        n = footer_rows(path)
        manifest = {
            "stage": stage,
            "rows": n,
            "committed_at": time.time(),
            "schema": df.schema.simpleString(),
            "lineage": lineage or {},
        }
        tmp = os.path.join(path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, MANIFEST))
        return n

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if not self.exists(stage):
            raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
        return spark.read.parquet(self._dir(stage))

    def manifest(self, stage: str) -> dict:
        with open(os.path.join(self._dir(stage), MANIFEST)) as f:
            return json.load(f)

    def write_meta(self, stats: dict, options: dict) -> None:
        """S8: run metadata + options (reference output_database.cpp:91-137)."""
        with open(os.path.join(self.root, "meta.json"), "w") as f:
            json.dump({"stats": stats, "options": options, "written_at": time.time()}, f, indent=2)


class IcebergSink:
    """The same stage-snapshot contract as CheckpointSink, emitted as REAL
    Iceberg commits through the DataFrameWriterV2 surface (df.writeTo →
    createOrReplace is one atomic snapshot swap; Iceberg's own metadata
    layer replaces the _MANIFEST.json file dance). Activated by
    constructing with a catalog name — e.g. when
    SPARK_GRAFT_ICEBERG_CATALOG is set and the session was built with the
    matching `spark.sql.catalog.<name>` config — and falls back to
    CheckpointSink in this sandbox (no Iceberg runtime on the classpath).

    Lineage + row counts ride as table properties (`graft.lineage`,
    `graft.rows`, `graft.committed_at`) set right after the snapshot
    commit; resume-safety comes from Iceberg's atomic metadata pointer
    swap: a crashed write leaves the previous snapshot current, exactly
    like a missing manifest left the stage uncommitted."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "osmcoastline"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def exists(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage))

    def write(self, stage: str, df: DataFrame, *, spatial: bool = False,
              lineage: dict | None = None,
              extent: tuple[float, float, float, float] | None = None) -> int:
        name = self._table(stage)
        # graft.lineage (which carries the resume fingerprint) rides the
        # SAME atomic snapshot commit via tableProperty — a crash between
        # createOrReplace and a follow-up ALTER would otherwise leave a
        # table whose DATA is from the new inputs but whose missing
        # fingerprint the legacy-accept path in checkpointed.py would
        # validate against ANY inputs. The informational rows/committed_at
        # props still land in a post-commit ALTER (the count needs the
        # committed snapshot); losing them to a crash costs manifest()
        # accuracy, never resume safety.
        (
            _zorder(df, spatial, extent).writeTo(name)
            .using("iceberg")
            .tableProperty("graft.lineage", json.dumps(lineage or {}))
            .createOrReplace()
        )
        n = self.spark.table(name).count()
        props = {
            "graft.rows": str(n),
            "graft.committed_at": str(time.time()),
        }
        # SQL-escape for Spark string literals: backslashes FIRST (Spark
        # processes \-escapes, so json.dumps output with \" or \\ would
        # store corrupted), then single quotes. An unescaped value would
        # break the statement AFTER the snapshot swap (round-4 ADVICE).
        def esc(v: str) -> str:
            return v.replace("\\", "\\\\").replace("'", "''")

        kv = ", ".join(f"'{esc(k)}' = '{esc(v)}'" for k, v in props.items())
        self.spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({kv})")
        return n

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if not self.exists(stage):
            raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
        return spark.table(self._table(stage))

    def manifest(self, stage: str) -> dict:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._table(stage)}"
        ).collect()
        props = {r[0]: r[1] for r in rows}
        return {
            "stage": stage,
            "rows": int(props.get("graft.rows", "0")),
            "committed_at": float(props.get("graft.committed_at", "0")),
            "lineage": json.loads(props.get("graft.lineage", "{}")),
        }

    def write_meta(self, stats: dict, options: dict) -> None:
        payload = json.dumps(
            {"stats": stats, "options": options, "written_at": time.time()}
        )
        df = self.spark.createDataFrame([(payload,)], "meta_json string")
        df.writeTo(self._table("_run_meta")).using("iceberg").createOrReplace()


def make_sink(spark: SparkSession, root: str):
    """Sink factory: real Iceberg commits when SPARK_GRAFT_ICEBERG_CATALOG
    names a configured catalog, parquet+manifest CheckpointSink otherwise
    (this sandbox ships no Iceberg runtime)."""
    catalog = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    if catalog:
        return IcebergSink(spark, catalog)
    return CheckpointSink(root)


def commit_tables(sink, tables: dict, *, spatial=(), epsg: int = 4326,
                  lineage: Callable[[str], dict] | None = None) -> dict:
    """Commit `tables` ({stage: DataFrame}) concurrently; returns {stage:
    rows} in input order. Each table goes through `sink.write` (so subclass
    overrides apply) on its own driver thread under one job tag: the first
    failing write cancels the others' jobs, and the commit joins them and
    re-raises. `spatial` names the Z-ordered tables (epsg=3857 geometry
    needs the WebMercator extent, or its metre-valued envelopes clamp to
    one Morton cell); `lineage(stage)` gives a manifest's lineage."""
    if not tables:
        return {}
    sc = next(iter(tables.values())).sparkSession.sparkContext
    extent = (-MERC, MERC, -MERC, MERC) if epsg == 3857 else None

    def write(stage: str, df: DataFrame) -> int:
        return sink.write(stage, df, spatial=stage in spatial, extent=extent,
                          lineage=lineage(stage) if lineage else None)

    with TaggedPool(sc, "osmcoastline-commit", len(tables)) as pool:
        futures = {stage: pool.submit(write, stage, df) for stage, df in tables.items()}
        for done in as_completed(futures.values()):
            done.result()
    return {stage: f.result() for stage, f in futures.items()}
