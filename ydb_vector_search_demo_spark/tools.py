"""Developer utilities.

``python -m ydb_vector_search_demo_spark.tools explain <query>...``
prints the formatted physical plan of catalog queries — the fastest
way to check a change kept the plan shape (broadcasts, pushed filters,
TakeOrderedAndProject) that tests/test_plans.py asserts. With
``--out DIR`` each plan is written to ``DIR/<query>[_<suffix>].txt``
instead (``--suffix before`` / ``--suffix after`` for an A/B capture).
Plans are built on the bench session shape, local[$SPARK_GRAFT_CPUS]
over the dataset directory $SPARK_GRAFT_SF_DIR, so they match what
bench.py executes.

``... list`` prints the catalog with oracle coverage flags.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout


def _explain(names: list[str], out_dir: str | None, suffix: str | None) -> int:
    from ydb_vector_search_demo_spark.plans.catalog import QUERIES
    from ydb_vector_search_demo_spark.session import get_spark

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries {unknown}; `list` shows all", file=sys.stderr)
        return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to the dataset directory", file=sys.stderr)
        return 2
    spark = get_spark("tools")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        if out_dir is None:
            df.explain("formatted")
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        stem = f"{name}_{suffix}" if suffix else name
        path = os.path.join(out_dir, f"{stem}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m ydb_vector_search_demo_spark.tools",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    commands = parser.add_subparsers(dest="command", required=True)
    commands.add_parser("list")
    explain = commands.add_parser("explain")
    explain.add_argument("queries", nargs="+")
    explain.add_argument("--out")
    explain.add_argument("--suffix")
    args = parser.parse_args(argv)
    if args.command == "explain":
        return _explain(args.queries, args.out, args.suffix)

    from ydb_vector_search_demo_spark.plans.catalog import ORACLES, QUERIES

    for name in QUERIES:
        flag = "oracle" if name in ORACLES else "rows-only"
        print(f"{name:35s} {flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
