"""What every workload shares: the op record, its timing, and the hooks
the runner calls."""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class Op:
    """One timed operation: a request, a batch step or a catalog row."""

    id: str
    kind: str
    seconds: float = 0.0
    traced: bool = False
    out: object = None
    error: str = ""
    info: dict = field(default_factory=dict)


def timed(op: Op, tracer, fn) -> Op:
    """Run ``fn()`` as ``op``: wall time, result or error, trace label."""
    t = time.perf_counter()
    try:
        with tracer.request(op.id, on=op.traced):
            op.out = fn()
    except Exception as e:  # a failed operation is counted, not fatal
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
    op.seconds = time.perf_counter() - t
    return op


class Workload:
    """Hooks called by run.py, in this order: ``generate`` (three times;
    the median is reported), ``build``, ``warmup``, ``run``, ``check``,
    then the metric hooks. Set-up is generate + build + warm-up."""

    name = ""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.ops: list[Op] = []

    def generate(self, rep: int) -> None:
        """Write this seed's inputs under the work dir (no Spark)."""
        raise NotImplementedError

    def build(self) -> None:
        """Stores and indexes the timed ops read, built by the program."""

    def warmup(self) -> None:
        pass

    def run(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """One message per failed op (ops that raised are added by run.py)."""
        raise NotImplementedError

    def end_to_end(self, report) -> None:
        raise NotImplementedError

    def per_layer(self) -> dict[str, float]:
        """Workload-specific per-layer values (by metric name)."""
        return {}
