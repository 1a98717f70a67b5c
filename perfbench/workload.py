"""What every workload shares: the operation record and its timing."""

from __future__ import annotations

import contextlib
import sys
import time
import traceback
from dataclasses import dataclass

from tracing import NullTracer


@dataclass
class Op:
    """One timed operation: an iteration, or one query of a mix."""

    name: str
    seconds: float
    ok: bool
    error: str | None = None


def timed_op(name: str, run, check) -> Op:
    """Time ``run()``; then, untimed, ``check(result)`` must return True.
    An exception in either, or a False check, makes the operation fail."""
    t0 = time.perf_counter()
    try:
        result = run()
    except Exception as e:  # noqa: BLE001 — a failed operation is data
        traceback.print_exc(file=sys.stderr)
        return Op(name, time.perf_counter() - t0, False, f"{type(e).__name__}: {e}")
    seconds = time.perf_counter() - t0
    try:
        ok = bool(check(result))
        error = None if ok else "output check failed"
    except Exception as e:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)
        ok, error = False, f"check {type(e).__name__}: {e}"
    if error:
        print(f"perfbench: {name}: {error}", file=sys.stderr)
    return Op(name, seconds, ok, error)


class Workload:
    """A named input set plus the pipeline that consumes it.

    ``setup`` builds inputs from the seed, computes the output oracles and
    calls ``warm_up``; ``iterate`` runs one timed iteration and returns its
    operations; ``traced`` runs one iteration with the layer patches of a
    ``Tracer`` active; ``probe`` then measures, with checked operations of
    its own, the layers the iteration does not reach; ``layer_metrics``
    turns the spans into per-layer metrics."""

    name = ""
    items_per_iteration = 0
    warmup_iterations = 1

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.warmup_ops: list[Op] = []
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def setup(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Checked, untimed iterations before any timed one."""
        with self.phase("warmup"):
            for _ in range(self.warmup_iterations):
                self.warmup_ops += self.iterate(NullTracer())

    def iterate(self, tr) -> list[Op]:
        raise NotImplementedError

    def traced(self, tr) -> list[Op]:
        raise NotImplementedError

    def probe(self, tr) -> list[Op]:
        raise NotImplementedError

    def layer_metrics(self, traced, counted) -> dict[str, float]:
        raise NotImplementedError
