"""Seeded coastline input generator owned by the benchmark.

The benchmark does not use ``osmcoastline_spark.synth``: a change to the
program's own fixture generator must not move the benchmark's inputs. This
module builds OSM-shaped ``nodes`` and ``ways`` tables with numpy on the
driver and writes each as one parquet file with pyarrow, so the bytes depend
on the seed and the shape only, never on Spark's parallelism.

Layout (every ring lives in its own grid cell, so no two rings cross unless
the shape asks for a defect that makes them):

- small islands sit in a band from 70 S to 10 N, one per cell, radius at
  most a tenth of the cell;
- continents and the rings with a wide gap sit in 10-degree cells from
  20 N to 80 N, radius at most 3.75 degrees, so every endpoint is more than
  the default close distance (1 degree) from any other ring;
- the Antarctica ring runs westward along 77.5 S from 180 to -180.

Rings are star-shaped around their centre with strictly increasing angle,
so they are simple and counter-clockwise (land on the left) unless a defect
reverses or crosses them.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NODES_SCHEMA = pa.schema(
    [
        pa.field("node_id", pa.int64(), nullable=False),
        pa.field("lon", pa.float64(), nullable=False),
        pa.field("lat", pa.float64(), nullable=False),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
    ]
)
WAYS_SCHEMA = pa.schema(
    [
        pa.field("way_id", pa.int64(), nullable=False),
        pa.field("node_ids", pa.list_(pa.int64()), nullable=False),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
    ]
)

SMALL_BAND = (-170.0, 170.0, -70.0, 10.0)  # lon0, lon1, lat0, lat1
BIG_BAND = (-170.0, 170.0, 20.0, 80.0)
BIG_CELL = 10.0


@dataclass(frozen=True)
class Shape:
    """Input properties of one workload. Shares are of the small islands."""

    islands: int
    continent_share: float = 0.001  # continents per island
    continent_nodes: tuple[int, int] = (2000, 4000)
    continent_ways: tuple[int, int] = (20, 200)
    gap_below_share: float = 0.0  # open, gap shorter than the close distance
    gap_above: int = 0  # big open rings whose gap exceeds the close distance
    duplicate_share: float = 0.0  # single-way islands whose way is duplicated
    crossing_share: float = 0.0  # rings with exactly one self-crossing
    reversed_share: float = 0.0  # clockwise rings
    antarctica: bool = False


@dataclass
class Expected:
    """Facts known by construction; the output checks compare against them."""

    rings: int = 0  # closed rings after gap closing and Antarctica
    continents: int = 0
    gap_below: int = 0
    gap_above: int = 0
    duplicates: int = 0
    duplicate_segments: int = 0
    crossings: int = 0
    reversed: int = 0
    antarctica: int = 0
    ways: int = 0
    nodes: int = 0


def _star(rng, cx, cy, radius, n, noise):
    """Simple CCW polygon (open vertex list): strictly increasing angle."""
    step = 2.0 * np.pi / n
    theta = np.arange(n) * step + rng.uniform(0.0, 0.4 * step, n)
    r = radius * (1.0 + noise * (rng.uniform(-1.0, 1.0, n)))
    return cx + r * np.cos(theta), cy + r * 0.7 * np.sin(theta)


def _split(rng, n, nways):
    """Way boundaries 0 = b0 < b1 < ... < b_nways = n over a ring of n."""
    if nways <= 1:
        return [0, n]
    cuts = np.sort(rng.choice(np.arange(1, n), size=nways - 1, replace=False))
    return [0, *cuts.tolist(), n]


class _Builder:
    def __init__(self):
        self.node_ids: list[np.ndarray] = []
        self.lons: list[np.ndarray] = []
        self.lats: list[np.ndarray] = []
        self.ways: list[list[int]] = []
        self.next_node = 1

    def ring(self, xs, ys, bounds, close=True, drop_tail=0):
        """Add the nodes of one ring and its ways; the last way closes the
        ring back to the first node unless ``close`` is false, in which
        case the ring ends ``drop_tail`` nodes early (left open)."""
        n = len(xs)
        ids = np.arange(self.next_node, self.next_node + n, dtype=np.int64)
        self.next_node += n
        self.node_ids.append(ids)
        self.lons.append(np.asarray(xs, dtype=np.float64))
        self.lats.append(np.asarray(ys, dtype=np.float64))
        refs = np.append(ids, ids[0]) if close else ids[: n - drop_tail]
        added = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            way = refs[lo : min(hi + 1, len(refs))].tolist()
            if len(way) >= 2:
                self.ways.append(way)
                added.append(len(self.ways) - 1)
        return added


def generate(shape: Shape, seed: int) -> tuple[pa.Table, pa.Table, Expected]:
    rng = np.random.default_rng(np.random.SeedSequence([seed, shape.islands]))
    b = _Builder()
    exp = Expected()

    # ---- big cells: continents, then wide-gap open rings
    n_cont = int(round(shape.islands * shape.continent_share))
    bx0, bx1, by0, by1 = BIG_BAND
    big_cols = int((bx1 - bx0) // BIG_CELL)
    big_rows = int((by1 - by0) // BIG_CELL)
    slots = rng.permutation(big_cols * big_rows)[: n_cont + shape.gap_above]
    if len(slots) < n_cont + shape.gap_above:
        raise ValueError("shape has more continents than big cells")
    # continent sizes are spread evenly over their ranges, so the amount of
    # work does not depend on the seed; the seed picks which goes where
    cont_nodes = rng.permutation(np.linspace(*shape.continent_nodes, n_cont).astype(int))
    cont_ways = rng.permutation(np.linspace(*shape.continent_ways, n_cont).astype(int))
    for i, slot in enumerate(slots):
        cx = bx0 + (slot % big_cols + 0.5) * BIG_CELL
        cy = by0 + (slot // big_cols + 0.5) * BIG_CELL
        if i < n_cont:
            n = int(cont_nodes[i])
            xs, ys = _star(rng, cx, cy, 3.0, n, 0.25)
            b.ring(xs, ys, _split(rng, n, int(cont_ways[i])))
            exp.continents += 1
        else:
            # a quarter of the ring is missing: the two ends are ~2.8
            # degrees apart, beyond the 1-degree default close distance
            n = 200
            xs, ys = _star(rng, cx, cy, 2.0, n, 0.05)
            b.ring(xs, ys, _split(rng, n - n // 4, 4), close=False, drop_tail=n // 4)
            exp.gap_above += 1

    # ---- small cells: islands, each with at most one defect
    sx0, sx1, sy0, sy1 = SMALL_BAND
    cell = float(np.sqrt((sx1 - sx0) * (sy1 - sy0) / max(shape.islands, 1)))
    while int((sx1 - sx0) // cell) * int((sy1 - sy0) // cell) < shape.islands:
        cell *= 0.98
    cols = int((sx1 - sx0) // cell)
    # exactly round(share * islands) islands of each defect kind (1-4);
    # kind 5 is a healthy island
    kinds = np.full(shape.islands, 5)
    order, pos = rng.permutation(shape.islands), 0
    for kind, share in enumerate((shape.gap_below_share, shape.duplicate_share,
                                  shape.crossing_share, shape.reversed_share), 1):
        count = int(round(share * shape.islands))
        kinds[order[pos:pos + count]] = kind
        pos += count
    for i in range(shape.islands):
        cx = sx0 + (i % cols + 0.5) * cell
        cy = sy0 + (i // cols + 0.5) * cell
        radius = min(0.1 * cell, 0.02) * float(rng.uniform(0.3, 1.0))
        kind = kinds[i]
        if kind == 2:  # duplicated way: the island is one closed way
            n = int(rng.integers(4, 12))
            xs, ys = _star(rng, cx, cy, radius, n, 0.2)
            (w,) = b.ring(xs, ys, [0, n])
            b.ways.append(list(b.ways[w]))
            exp.duplicates += 1
            exp.duplicate_segments += n
            continue
        if kind == 3:  # one self-crossing: convex ring, two vertices swapped
            n = int(rng.integers(6, 16))
            xs, ys = _star(rng, cx, cy, radius, n, 0.0)
            k = int(rng.integers(1, n - 2))
            xs[[k, k + 1]] = xs[[k + 1, k]]
            ys[[k, k + 1]] = ys[[k + 1, k]]
            b.ring(xs, ys, _split(rng, n, 1 if n < 8 else int(rng.integers(1, 4))))
            exp.crossings += 1
            continue
        n = int(rng.integers(4, 24))
        xs, ys = _star(rng, cx, cy, radius, n, 0.2)
        if kind == 4:  # clockwise
            xs, ys = xs[::-1].copy(), ys[::-1].copy()
            exp.reversed += 1
        nways = 1 if n < 8 else int(rng.integers(1, 4))
        if kind == 1:  # gap below the close distance: last ref missing
            b.ring(xs, ys, _split(rng, n, nways), close=False)
            exp.gap_below += 1
        else:
            b.ring(xs, ys, _split(rng, n, nways))

    # ---- Antarctica: westward along 77.5 S, land (south) on the left
    if shape.antarctica:
        n = 720
        xs = np.linspace(180.0, -180.0, n)
        ys = -77.5 + 0.3 * np.sin(np.linspace(0.0, 12.0 * np.pi, n))
        b.ring(xs, ys, _split(rng, n - 1, 8), close=False)
        exp.antarctica = 1

    # wide-gap rings stay open; a duplicated way adds a second closed ring
    exp.rings = shape.islands + exp.duplicates + exp.continents + exp.antarctica
    nodes = pa.table(
        {
            "node_id": np.concatenate(b.node_ids),
            "lon": np.concatenate(b.lons),
            "lat": np.concatenate(b.lats),
            "tags": pa.array([[]] * sum(len(a) for a in b.node_ids),
                             type=pa.map_(pa.string(), pa.string())),
        },
        schema=NODES_SCHEMA,
    )
    ways = pa.table(
        {
            "way_id": np.arange(1, len(b.ways) + 1, dtype=np.int64),
            "node_ids": pa.array(b.ways, type=pa.list_(pa.int64())),
            "tags": pa.array([[("natural", "coastline")]] * len(b.ways),
                             type=pa.map_(pa.string(), pa.string())),
        },
        schema=WAYS_SCHEMA,
    )
    exp.ways, exp.nodes = ways.num_rows, nodes.num_rows
    return nodes, ways, exp


def input_shares(ways: pa.Table, exp: Expected, islands: int) -> dict:
    """Share of each property in the generated input, for the record. The
    counts come from the construction; the output checks confirm each one
    against the statistics of the run."""
    return {
        "rings": exp.rings,
        "nodes": exp.nodes,
        "ways": exp.ways,
        "ways_per_ring": round(exp.ways / max(exp.rings, 1), 3),
        "max_way_nodes": max(len(r) for r in ways.column("node_ids").to_pylist()),
        "continent_share": round(exp.continents / max(islands, 1), 5),
        "open_ring_share": round((exp.gap_below + exp.gap_above + exp.antarctica)
                                 / max(exp.rings, 1), 5),
        "gap_below_share": round(exp.gap_below / max(exp.rings, 1), 5),
        "gap_above_share": round(exp.gap_above / max(exp.rings, 1), 5),
        "duplicate_way_share": round(exp.duplicates / max(exp.ways, 1), 5),
        "crossing_ring_share": round(exp.crossings / max(exp.rings, 1), 5),
        "reversed_ring_share": round(exp.reversed / max(exp.rings, 1), 5),
        "antarctica_rings": exp.antarctica,
    }


def write(shape: Shape, seed: int, out_dir: str) -> tuple[dict, Expected, dict]:
    """Generate and write ``out_dir/nodes/part-0.parquet`` and
    ``out_dir/ways/part-0.parquet``; returns (paths, expected, shares)."""
    nodes, ways, exp = generate(shape, seed)
    paths = {}
    for name, table in (("nodes", nodes), ("ways", ways)):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"), compression="snappy")
        paths[name] = d
    return paths, exp, input_shares(ways, exp, shape.islands)


def file_digest(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for fn in sorted(files):
            h.update(fn.encode())
            with open(os.path.join(root, fn), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
