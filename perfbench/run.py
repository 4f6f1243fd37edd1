#!/usr/bin/env python3
"""Coastline benchmark.

    python3 perfbench/run.py --workload coast-bulk --seed 1 --seconds 60 --trace 0

Run from the root of a checkout. One run starts a local[4] Spark session in
this process, generates the workload's input from the seed, times one
operation through a real entry point of the program, checks its outputs and
prints, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
holds the detail: host probes, input shares, walls and digests.

Workloads (BENCHMARK.json records why each was chosen):

- ``coast-bulk``: ``cli.main -p both`` with the other options at their
  defaults, on a healthy planet-shaped coastline;
- ``coast-defects``: ``run_checkpointed`` with rings, lines and land output
  on a defect-heavy coastline. The first run crashes right after it commits
  the ring snapshots; the second run must resume from ``rings_closed`` and
  ``rings_open`` and finish.

Each run times exactly one operation, the first in a fresh JVM: a user of
this batch tool pays the JIT warm-up on every run, and the benchmark's time
budget leaves room for one operation per run. ``--seconds`` is accepted for
the common benchmark interface and does not change what runs.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` times the same
operation with every layer wrapped (see spans.py) and reports per-layer
metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DEFAULT_SEED = 1

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
from gen import Shape  # noqa: E402

WORKLOADS = {
    "coast-bulk": Shape(islands=10000),
    "coast-defects": Shape(
        islands=1000,
        gap_below_share=0.05,
        gap_above=3,
        duplicate_share=0.02,
        crossing_share=0.02,
        reversed_share=0.03,
        antarctica=True,
    ),
}


def defects_options():
    """coast-defects writes rings, lines and land polygons."""
    from osmcoastline_spark.plans.pipeline import Options

    return Options(output_rings=True, output_lines=True, output_polygons="land")


class SimulatedCrash(RuntimeError):
    pass


class Window:
    """The timed part of an operation: program calls only, no checks. With
    a tracer it also records the Spark jobs that ran inside it."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.t0 = self.t1 = None
        self.jobs = (0, -1)

    def start(self) -> None:
        first = self.tracer.last_job_id() + 1 if self.tracer else 0
        self.t0 = time.perf_counter()
        self.jobs = (first, -1)

    def stop(self) -> float:
        self.t1 = time.perf_counter()
        if self.tracer:
            self.jobs = (self.jobs[0], self.tracer.last_job_id())
        return self.t1 - self.t0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="coastline benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=int, default=60)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def require_checkout() -> None:
    for rel in ("osmcoastline_spark/cli.py", "BENCH/host_probe.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} is missing; run from a checkout of the repository")


def isolate_environment(work: str) -> None:
    """Every file the run writes goes under ``work``; the program's own
    environment switches are cleared so the run sees its defaults."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_SHUFFLE=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    tempfile.tempdir = None


def start_spark(work: str):
    from osmcoastline_spark.session import get_spark

    spark = get_spark(
        "osmcoastline",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    if workers:
        raise RuntimeError(f"Spark worker processes still running: {workers}")


def peak_rss_mb(pid: str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def reset_peak_rss(pid: str = "self") -> None:
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


# ------------------------------------------------------------------ ops


def check_outputs(spark, out, pinned, stats, skip=()):
    """Digest every committed table under ``out`` and compare with the pins;
    where there are pins (the default seed) also run the tamper self-test.
    Returns (problems, detail)."""
    tables = sorted(n for n in os.listdir(out)
                    if os.path.isdir(os.path.join(out, n)) and n not in skip)
    digests = checks.table_digests(spark, out, tables)
    problems = checks.pinned_problems(pinned, digests, stats)
    if pinned is not None:
        problems += checks.tamper_self_test(spark, out)
    return problems, {"stats": stats, "digests": digests,
                      "stats_digest": checks.stats_digest(stats)}


def op_bulk(spark, inp, out, exp, pinned, window):
    """cli.main as spark-submit runs it; returns (ops, detail)."""
    from osmcoastline_spark import cli

    argv = ["--nodes", inp["nodes"], "--ways", inp["ways"], "-o", out, "-p", "both"]
    window.start()
    with contextlib.redirect_stdout(sys.stderr):
        code = cli.main(argv)
    window.stop()

    with open(os.path.join(out, "meta.json")) as f:
        stats = json.load(f)["stats"]
    problems = checks.count_problems(stats, code, exp, healthy=True)
    # 'meta' carries the run's timestamp, runtime and memory: not digested
    more, detail = check_outputs(spark, out, pinned, stats, skip=("meta",))
    return [problems + more], {"exit_code": code, **detail}


def op_defects(spark, inp, out, exp, pinned, window):
    """run_checkpointed: a run that crashes after the ring snapshots, then
    the resume; returns (ops, detail)."""
    from osmcoastline_spark.plans import checkpointed
    from osmcoastline_spark.sinks import CheckpointSink

    class CrashingSink(CheckpointSink):
        """Commits like CheckpointSink, then fails right after the
        rings_open snapshot: the state a crash after assembly leaves."""

        def write(self, stage, df, **kwargs):
            n = super().write(stage, df, **kwargs)
            if stage == "rings_open":
                raise SimulatedCrash(stage)
            return n

    opt = defects_options()
    window.start()
    nodes = spark.read.parquet(inp["nodes"])
    ways = spark.read.parquet(inp["ways"])
    crashed = False
    try:
        checkpointed.run_checkpointed(spark, nodes, ways, opt, CrashingSink(out))
    except SimulatedCrash:
        crashed = True
    t_crash = time.perf_counter()
    run = checkpointed.run_checkpointed(spark, nodes, ways, opt, CheckpointSink(out))
    window.stop()
    res = run.result

    sink = CheckpointSink(out)
    fresh = [] if crashed else ["the first run did not reach the crash point"]
    want_rows = {"rings_closed": exp.rings - exp.gap_below - exp.antarctica,
                 "rings_open": exp.gap_below + exp.gap_above + exp.antarctica}
    for stage, rows in want_rows.items():
        got = sink.manifest(stage)["rows"] if sink.exists(stage) else None
        if got != rows:
            fresh.append(f"{stage} snapshot has {got} rows, expected {rows}")
    resume = checks.count_problems(res.stats, res.exit_code, exp, healthy=False)
    if sorted(run.loaded) != ["rings_closed", "rings_open"]:
        resume.append(f"resume loaded {run.loaded}, expected the ring snapshots")
    more, detail = check_outputs(spark, out, pinned, res.stats)
    res.unpersist()
    return [fresh, resume + more], {
        "exit_code": res.exit_code, **detail,
        "crashed_run_s": t_crash - window.t0, "resume_s": window.t1 - t_crash,
    }


OPS = {"coast-bulk": op_bulk, "coast-defects": op_defects}


# ------------------------------------------------------------------ main


def main(argv=None) -> int:
    args = parse_args(argv)
    require_checkout()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "BENCH"))
    from host_probe import probe

    probe_start = probe()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    spark = None
    try:
        isolate_environment(work)
        spark = start_spark(work)
        shape = WORKLOADS[args.workload]
        inp, exp, shares = gen.write(shape, args.seed, os.path.join(work, "input"))

        pinned = checks.load_pinned(args.workload) if args.seed == DEFAULT_SEED else None
        out = os.path.join(work, "out")
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
            jvm_pid = str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            reset_peak_rss(jvm_pid)
            tracer.install()
        window = Window(tracer)
        reset_peak_rss()
        try:
            ops, detail = OPS[args.workload](spark, inp, out, exp, pinned, window)
        except Exception:  # a failing program run is a measured outcome
            ops, detail = [["raised: " + traceback.format_exc(limit=3)]], {}
            if window.t0 is None:
                window.start()
            if window.t1 is None:
                window.stop()
        rss_mb = peak_rss_mb()
        setup_s = window.t0 - T_START
        run_s = window.t1 - window.t0

        if tracer is not None:
            tracer.uninstall()
            layer = tracer.report(window.jobs, window.t0, window.t1, CORES)
            layer["run.jvm_peak_rss_mb"] = (peak_rss_mb(jvm_pid), "MiB")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "run_s": {"value": run_s, "unit": "s"},
                "driver_peak_rss_mb": {"value": rss_mb, "unit": "MiB"},
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    failed = sum(1 for p in ops if p)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_probe_start": probe_start, "host_probe_end": probe(),
        "setup_s": setup_s, "run_s": run_s, "input": shares, "shape": dataclasses.asdict(shape),
        "fail_ratio": failed / len(ops), "problems": [p for op in ops for p in op],
        **detail,
    }, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
