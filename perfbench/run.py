"""Benchmark entry point.

    python3 perfbench/run.py --workload rag-serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints readable ``# ...`` notes and one
``name value unit`` line per metric, then, as the last line, the JSON
result ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes the spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import metrics  # noqa: E402
from harness import median  # noqa: E402

# inputs are generated this many times and the median counts in setup_s
GENERATE_REPS = 3


def _workloads() -> dict:
    from rag_serve import RagServe
    from vector_batch import VectorBatch

    return {w.name: w for w in (RagServe, VectorBatch)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = harness.prepare_env(args.workload, bool(args.trace))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(harness.WORK)  # only when no other run is using it
        except OSError:
            pass


def _run(args, work: str) -> int:
    sys.path.insert(0, harness.ROOT)
    try:
        import ydb_vector_search_demo_spark  # noqa: F401
        from pyspark.sql import SparkSession  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    wl_cls = _workloads().get(args.workload)
    if wl_cls is None:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    from tracing import Tracer

    import_s = time.perf_counter() - _T0
    sess = harness.Session()
    try:
        tracer = Tracer(bool(args.trace), sess.sc)
        wl = wl_cls(sess.spark, tracer, args.seed, work)
        reps = []
        for r in range(GENERATE_REPS):
            t = time.perf_counter()
            wl.generate(r)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t
        setup_s = import_s + sess.start_s + median(reps) + build_s + warm_s

        steal0, total0 = harness.cpu_ticks()
        wl.run(args.seconds)
        steal1, total1 = harness.cpu_ticks()

        errors = [f"{op.id} {op.kind}: {op.error}" for op in wl.ops if op.error]
        errors += wl.check()
        report = harness.Report()
        for e in errors[:20]:
            report.note(f"FAILED {e}")
        report.note(f"setup: import {import_s:.2f} s, session {sess.start_s:.2f} s, generate "
                    f"{', '.join(f'{x:.2f}' for x in reps)} s, build {build_s:.2f} s, "
                    f"warm-up {warm_s:.2f} s")
        report.note(f"host: {100 * (steal1 - steal0) / max(1, total1 - total0):.1f}% of CPU time "
                    "stolen by the hypervisor during the timed run (timings rise with it)")
        if args.trace:
            _per_layer(report, wl, tracer, sess.sc, args)
        else:
            report.add("setup_s", setup_s, "s")
            report.add("peak_rss_mb", sess.peak_rss_mb(), "MB")
            wl.end_to_end(report)
    finally:
        sess.close()
    attempted = len(wl.ops)
    failed = min(attempted, len(errors))
    report.note(f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    for line in report.lines(failed == 0, attempted, failed):
        print(line)
    return 0


def _per_layer(report, wl, tracer, sc, args) -> None:
    from tracing import group_summary, self_times, spark_jobs_by_group

    traced = [op for op in wl.ops if op.traced and not op.error]
    roots = {s["request"]: s for s in tracer.spans if s["parent"] is None}
    jobs = spark_jobs_by_group(sc, [op.id for op in traced])
    summ = {op.id: group_summary(jobs[op.id], roots[op.id]["start"], roots[op.id]["end"])
            for op in traced}
    selfs = self_times(tracer.spans)
    extra = wl.per_layer()
    extra["trace.overhead_pct"] = _overhead_pct(wl.ops)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    for name, unit, src in metrics.PER_LAYER:
        if src[0] == "spark":
            v = mean(s[src[1]] for s in summ.values())
        elif src[0] == "span_ms":
            v = 1000 * mean(s["end"] - s["start"] for s in tracer.spans if s["name"] == src[1])
        elif src[0] == "self_ms":
            v = 1000 * mean(selfs[s["id"]] for s in tracer.spans if s["name"] == src[1])
        elif src[0] == "op_s":
            v = mean(op.seconds for op in traced if op.kind == src[1])
        elif src[0] == "op_spark":
            v = mean(summ[op.id][src[2]] for op in traced if op.kind == src[1])
        else:
            v = extra.get(name, 0.0)
        report.add(name, v, unit)
    os.makedirs(harness.OUT, exist_ok=True)
    tracer.dump(os.path.join(harness.OUT, f"trace-{args.workload}-{args.seed}.json"),
                {"ops": [{"id": op.id, "kind": op.kind, "seconds": op.seconds,
                          "traced": op.traced, "error": op.error} for op in wl.ops],
                 "spark": summ})


def _overhead_pct(ops) -> float:
    """Tracing overhead: per op kind, median traced time over median
    untraced time; geometric mean over kinds, as a percentage."""
    ratios = []
    for kind in {op.kind for op in ops}:
        on = [op.seconds for op in ops if op.kind == kind and op.traced and not op.error]
        off = [op.seconds for op in ops if op.kind == kind and not op.traced and not op.error]
        if on and off:
            ratios.append(median(on) / median(off))
    if not ratios:
        return 0.0
    return 100.0 * (math.exp(sum(map(math.log, ratios)) / len(ratios)) - 1.0)


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.exit(rc)
