"""Process set-up, Spark session lifetime, statistics and the result line.

The benchmark keeps every file it writes under ``<checkout>/.perfbench_work``
(inputs, stores, Spark scratch, Python and JVM temp dirs) and deletes it at
exit; traces go to ``<checkout>/.perfbench_out``.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(tag: str, trace: bool) -> str:
    """Point every temp/scratch location of Python, the JVM and Spark into
    a fresh work dir. Must run before pyspark is imported."""
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
        # a traced run keeps every job/stage in the status store; an
        # untraced run keeps Spark's defaults
        *(["--conf spark.ui.retainedJobs=100000",
           "--conf spark.ui.retainedStages=100000"] if trace else []),
        f'--driver-java-options "{java_opts}"',
        "pyspark-shell",
    ])
    return work


class Session:
    """The Spark session for one run, started through the package's own
    factory on ``local[cores]``; ``close`` stops it and waits for the JVM
    and its Python workers to exit."""

    def __init__(self):
        from ydb_vector_search_demo_spark.session import get_spark

        t = time.perf_counter()
        n = cores()
        self.spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the JVM, in MB."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def close(self) -> None:
        workers = _descendants(self.jvm_pid)
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while workers and time.time() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in workers:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host's CPUs so far, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


# -------------------------------------------------------------- statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs, beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile p (50..99) that leaves at least
    ``beyond`` samples above it, as (p, nearest-rank value); None when
    even the median has fewer than ``beyond`` samples above it."""
    s = sorted(xs)
    n = len(s)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, float(s[rank - 1])
    return None


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ------------------------------------------------------------------ output


class Report:
    """Collects metrics; prints each as ``name value unit`` lines, then
    the one-line JSON result that ends the output."""

    def __init__(self):
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: list[str] = []

    def add(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def note(self, line: str) -> None:
        self.info.append(line)

    def lines(self, correct: bool, attempted: int, failed: int) -> list[str]:
        out = [f"# {x}" for x in self.info]
        out += [f"{n} {v:.6g} {u}" for n, (v, u) in self.metrics.items()]
        out.append(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in self.metrics.items()},
        }))
        return out
