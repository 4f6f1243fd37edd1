"""Self-tests of the benchmark's generator and output checks.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout; each test starts its own small Spark
session.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402

SHAPE = gen.Shape(
    islands=300, gap_below_share=0.05, gap_above=2, duplicate_share=0.02,
    crossing_share=0.02, reversed_share=0.03, antarctica=True,
)


def _session(master: str):
    from osmcoastline_spark.session import get_spark

    return get_spark("perfbench-test", master=master, shuffle_partitions=4,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


@pytest.fixture(scope="module")
def spark():
    s = _session("local[2]")
    yield s
    s.stop()


def _files(paths):
    return {n: gen.file_digest(p) for n, p in paths.items()}


def test_one_seed_gives_identical_files_at_local1_and_local4(tmp_path):
    digests = {}
    for master in ("local[1]", "local[4]"):
        s = _session(master)
        try:
            out = str(tmp_path / master.strip("]").replace("[", ""))
            paths, _exp, _shares = gen.write(SHAPE, 7, out)
            digests[master] = _files(paths)
            # Spark reads the same rows at either parallelism
            digests[master]["rows"] = checks.table_digests(s, out, ["nodes", "ways"])
        finally:
            s.stop()
    assert digests["local[1]"] == digests["local[4]"]
    paths, _exp, _shares = gen.write(SHAPE, 8, str(tmp_path / "other"))
    assert _files(paths)["ways"] != digests["local[1]"]["ways"]


def test_constructed_counts_match_the_shape(tmp_path):
    nodes, ways, exp = gen.generate(SHAPE, 3)
    assert exp.continents == 0 and exp.antarctica == 1 and exp.gap_above == 2
    assert exp.rings == SHAPE.islands + exp.duplicates + exp.antarctica
    assert ways.num_rows == exp.ways and nodes.num_rows == exp.nodes
    refs = ways.column("node_ids").to_pylist()
    closed = sum(1 for r in refs if r[0] == r[-1])
    # every single-way island is closed; open rings end on distinct nodes
    assert closed >= exp.duplicates * 2
    healthy = gen.generate(gen.Shape(islands=2000), 3)[2]
    assert (healthy.gap_below, healthy.gap_above, healthy.duplicates,
            healthy.crossings, healthy.reversed) == (0, 0, 0, 0, 0)
    assert healthy.continents == 2 and healthy.rings == 2002


def test_tampered_table_is_caught(spark, tmp_path):
    rows = [(i, [float(i), 1.0], [0.0, 1.0], [], [], 2, float(i), 0.0, 1.0, 1.0)
            for i in range(50)]
    schema = ("poly_id long, shell_x array<double>, shell_y array<double>, "
              "holes_x array<array<double>>, holes_y array<array<double>>, "
              "npoints int, env_minx double, env_miny double, env_maxx double, "
              "env_maxy double")
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "land_polygons"))
    assert checks.tamper_self_test(spark, str(tmp_path)) == []

    base = checks.table_digests(spark, str(tmp_path), ["land_polygons"])
    rows[17] = rows[17][:6] + (rows[17][6] + 1e-9,) + rows[17][7:]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "land_polygons"))
    tampered = checks.table_digests(spark, str(tmp_path), ["land_polygons"])
    assert tampered != base
    pinned = {"tables": base, "stats": checks.stats_digest({})}
    assert checks.pinned_problems(pinned, tampered, {}) != []
    assert checks.pinned_problems(pinned, base, {}) == []


def test_count_problems_flags_a_wrong_count():
    exp = gen.generate(SHAPE, 3)[2]
    stats = {**checks.expected_stats(exp), "questionable": 0, "invalid_polygons": 0}
    assert checks.count_problems(stats, 2, exp, healthy=False) == []
    stats["rings_fixed"] += 1
    assert checks.count_problems(stats, 2, exp, healthy=False) != []
    assert checks.count_problems(checks.expected_stats(exp), 0, exp, healthy=False) != []
