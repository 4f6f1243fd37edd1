"""Output checks: counts known by construction and order-insensitive digests.

A table digest is the row count plus the exact sum of one 64-bit hash per
row, taken over the columns in name order. It does not depend on row order,
file layout or partitioning, and changes when any value of any row changes
(barring a 64-bit hash collision).
All tables of one output directory are digested in a single Spark job.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import reduce

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from gen import Expected


PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def frame_digests(frames: dict) -> dict[str, str]:
    """{name: "<rows>:<hash sum>"} for DataFrames, in one Spark job."""
    parts = []
    for name, df in frames.items():
        cols = [
            F.array_sort(F.map_entries(c))
            if isinstance(df.schema[c].dataType, MapType)
            else F.col(c)
            for c in sorted(df.columns)
        ]
        parts.append(
            df.select(
                F.lit(name).alias("t"),
                F.xxhash64(*cols).cast("decimal(38,0)").alias("h"),
            )
        )
    rows = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("t")
        .agg(F.count("*").alias("n"), F.sum("h").alias("s"))
        .collect()
    )
    got = {r["t"]: f"{r['n']}:{r['s']}" for r in rows}
    # an empty table has no row in the union: digest it as 0 rows
    return {name: got.get(name, "0:None") for name in frames}


def table_digests(spark, root: str, names: list[str]) -> dict[str, str]:
    """Digests of the committed parquet tables under ``root``."""
    return frame_digests(
        {n: spark.read.parquet(os.path.join(root, n)) for n in names}
    )


def tamper_self_test(spark, root: str, table: str = "land_polygons") -> list[str]:
    """The digest must ignore row order and catch one changed coordinate."""
    df = spark.read.parquet(os.path.join(root, table))
    first = df.agg(F.min("poly_id")).first()[0]
    tampered = df.withColumn(
        "env_minx",
        F.when(F.col("poly_id") == first, F.col("env_minx") + 1e-9)
        .otherwise(F.col("env_minx")),
    )
    d = frame_digests({"orig": df, "shuffled": df.repartition(7), "tampered": tampered})
    problems = []
    if d["orig"] != d["shuffled"]:
        problems.append(f"self-test: digest of {table} depends on row order")
    if d["orig"] == d["tampered"]:
        problems.append(f"self-test: a changed value in {table} went unnoticed")
    return problems


def load_pinned(workload: str) -> dict | None:
    with open(PINNED) as f:
        return json.load(f).get(workload)


def pinned_problems(pinned: dict | None, digests: dict, stats: dict) -> list[str]:
    """Differences from the digests pinned for the default seed."""
    if pinned is None:
        return []
    problems = [
        f"table {name}: digest {digests.get(name)}, pinned {want}"
        for name, want in pinned["tables"].items()
        if digests.get(name) != want
    ]
    problems += [f"unexpected table {name}" for name in digests if name not in pinned["tables"]]
    if stats_digest(stats) != pinned["stats"]:
        problems.append(f"stats digest {stats_digest(stats)}, pinned {pinned['stats']}")
    return problems


def stats_digest(stats: dict) -> str:
    return hashlib.sha256(json.dumps(stats, sort_keys=True).encode()).hexdigest()[:16]


def expected_stats(exp: Expected) -> dict:
    """The run statistics that the generated input fixes exactly."""
    return {
        "rings": exp.rings,
        "rings_fixed": exp.gap_below,
        "unconnected_nodes": 2 * exp.gap_above,
        "antarctica_closed": bool(exp.antarctica),
        "rings_turned_around": exp.reversed,
        "ways": exp.ways,
        "overlaps": exp.duplicate_segments,
        "intersections": exp.crossings,
    }


def expected_exit_code(exp: Expected) -> int:
    defects = exp.gap_below + exp.gap_above + exp.duplicates + exp.crossings
    return 2 if defects else 0


def count_problems(stats: dict, code: int, exp: Expected, healthy: bool) -> list[str]:
    """Differences between a run's statistics and the constructed input."""
    problems = []
    want = expected_stats(exp)
    if healthy:
        want.update(questionable=0, invalid_polygons=0)
    for key, value in want.items():
        if stats.get(key) != value:
            problems.append(f"stats[{key!r}] = {stats.get(key)!r}, expected {value!r}")
    if code != expected_exit_code(exp):
        problems.append(f"exit code {code}, expected {expected_exit_code(exp)}")
    return problems
