#!/usr/bin/env python3
"""Rewrite pinned.json from uninterrupted runs at the default seed.

    python3 perfbench/pin.py

Run from the root of a checkout, after a change that is meant to change the
program's outputs. coast-bulk is pinned from ``cli.main -p both`` as the
benchmark runs it. coast-defects is pinned from one ``run_checkpointed``
into an empty sink with no crash, so the benchmark's crashed-and-resumed
run is compared against a run that never resumed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def pin_bulk(spark, inp, out) -> dict:
    from osmcoastline_spark import cli

    code = cli.main(["--nodes", inp["nodes"], "--ways", inp["ways"], "-o", out, "-p", "both"])
    if code != 0:
        raise RuntimeError(f"coast-bulk exited with {code}")
    with open(os.path.join(out, "meta.json")) as f:
        return json.load(f)["stats"]


def pin_defects(spark, inp, out) -> dict:
    from osmcoastline_spark.plans import checkpointed
    from osmcoastline_spark.sinks import CheckpointSink

    ran = checkpointed.run_checkpointed(
        spark, spark.read.parquet(inp["nodes"]), spark.read.parquet(inp["ways"]),
        run.defects_options(), CheckpointSink(out),
    )
    if ran.loaded:
        raise RuntimeError(f"a run into an empty sink loaded {ran.loaded}")
    ran.result.unpersist()
    return ran.result.stats


PIN = {"coast-bulk": (pin_bulk, ("meta",)), "coast-defects": (pin_defects, ())}


def main() -> int:
    run.require_checkout()
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(work)
    pinned = {}
    spark = None
    try:
        run.isolate_environment(work)
        spark = run.start_spark(work)
        for name, (pin, skip) in PIN.items():
            base = os.path.join(work, name)
            inp, _exp, _shares = gen.write(run.WORKLOADS[name], run.DEFAULT_SEED,
                                           os.path.join(base, "input"))
            out = os.path.join(base, "out")
            stats = pin(spark, inp, out)
            tables = sorted(n for n in os.listdir(out)
                            if os.path.isdir(os.path.join(out, n)) and n not in skip)
            pinned[name] = {
                "seed": run.DEFAULT_SEED,
                "tables": checks.table_digests(spark, out, tables),
                "stats": checks.stats_digest(stats),
            }
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(checks.PINNED, "w") as f:
        json.dump(pinned, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(pinned, indent=2, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
