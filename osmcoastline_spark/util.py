"""Small shared helpers."""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor


def run_concurrently(*thunks: Callable):
    """Run independent Spark actions in parallel driver threads and return
    their results in argument order.

    Local-mode job submission costs ~0.2 s of driver scheduling per job
    regardless of data size (BENCH/BASELINE.md §1); overlapping
    independent count/collect DAGs hides that floor. Spark's scheduler is
    thread-safe for concurrent actions on one session.
    """
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


class TaggedPool:
    """Driver threads whose Spark jobs all carry one job tag (thread-local
    like a job group, but without replacing the group a caller set).
    Leaving the `with` block joins every task; leaving it on an exception
    first cancels the tag, so no job started here outlives the caller."""

    def __init__(self, sc, prefix: str, max_workers: int):
        import uuid

        self.sc, self.tag = sc, f"{prefix}-{uuid.uuid4().hex}"
        self._pool = ThreadPoolExecutor(max_workers=max_workers)

    def submit(self, fn: Callable, *args):
        def tagged():
            self.sc.addJobTag(self.tag)
            try:
                return fn(*args)
            finally:
                self.sc.removeJobTag(self.tag)

        return self._pool.submit(tagged)

    def __enter__(self) -> "TaggedPool":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self.sc.cancelJobsWithTag(self.tag)
        self._pool.shutdown(wait=True, cancel_futures=exc_type is not None)


def ensure_min_parallelism(df, factor: int = 2):
    """Repartition an under-parallel input before compute-heavy narrow
    stages (spark_optimization_guide §2.5: 'one huge unsplittable file …
    repartition immediately after the read').

    The driver testdata ships each table as ONE single-row-group parquet
    file, so every scan is exactly one task and per-row kernels (md5
    signatures, regex features) serialize on one core regardless of
    cluster size. A round-robin repartition to defaultParallelism costs
    one tiny exchange of the raw rows and parallelizes everything above
    it. No-op when the input already has ≥ defaultParallelism/factor
    partitions — healthy multi-file inputs at scale never pay the extra
    shuffle. Row-set identical (repartition reorders, never changes rows;
    sort-before-repartition keeps the placement deterministic)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur * factor <= target:
        return df.repartition(target)
    return df


def aslist(v):
    """None/NaN → []; ndarray/list → list (Arrow hands nested arrays as
    numpy objects whose truthiness is ambiguous). Shared by every
    mapInPandas kernel that walks nested ring arrays — keep ONE
    definition (this was copy-pasted in four modules)."""
    if v is None:
        return []
    try:
        import math

        if isinstance(v, float) and math.isnan(v):
            return []
    except Exception:
        pass
    return list(v)
