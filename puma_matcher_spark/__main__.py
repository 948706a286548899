"""Command-line entry point — the rebuild's equivalent of the
reference's ``submit.sh`` app dispatcher (reference: submit.sh:20-40,
which resolves an app name to a main class and spark-submits it).

Here the queries ARE the surface, so the CLI exposes the registry
directly:

    python -m puma_matcher_spark list [substr]
    python -m puma_matcher_spark run <query> [--sf-dir D] [--limit N]
    python -m puma_matcher_spark explain <query> [--sf-dir D]
    python -m puma_matcher_spark oracle <query>
    python -m puma_matcher_spark app matcher|curation [--sf-dir D]

On a real cluster the same module runs under spark-submit; only
``--master`` / deploy plumbing differs (session.py owns the conf).
"""

from __future__ import annotations

import argparse
import dataclasses
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="puma_matcher_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("substr", nargs="?", default="")

    for name in ("run", "explain"):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
        if name == "run":
            p.add_argument("--limit", type=int, default=20)

    p_or = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_or.add_argument("query")

    p_app = sub.add_parser("app", help="run a composed pipeline app")
    p_app.add_argument("name", choices=["matcher", "curation"])
    p_app.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    args = ap.parse_args(argv)

    from puma_matcher_spark.queries import REGISTRY

    if args.cmd == "list":
        for name, spec in REGISTRY.items():
            if args.substr in name:
                kind = "oracle" if spec.oracle else "rows-only"
                print(f"{name:32s} [{kind}]")
        return 0

    if args.cmd == "oracle":
        spec = REGISTRY.get(args.query)
        if spec is None:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        if spec.oracle is None:
            print(f"{args.query} is rows-only (no oracle)", file=sys.stderr)
            return 1
        print(spec.oracle)
        return 0

    spec = REGISTRY.get(args.query) if args.cmd in ("run", "explain") else None
    if args.cmd in ("run", "explain"):
        if spec is None:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        from puma_matcher_spark.session import get_spark

        spark = get_spark(f"cli-{args.cmd}-{args.query}")
        spark.sparkContext.setLogLevel("ERROR")
        df = spec.spark_fn(spark, args.sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            # persist so show + count execute the plan once, not twice
            df.persist()
            try:
                df.show(args.limit, truncate=False)
                print(f"({df.count()} rows total)")
            finally:
                df.unpersist()
        return 0

    if args.cmd == "app":
        from puma_matcher_spark.session import get_spark

        spark = get_spark(f"cli-app-{args.name}")
        spark.sparkContext.setLogLevel("ERROR")
        if args.name == "matcher":
            from puma_matcher_spark.apps import run_full_matcher

            res = run_full_matcher(spark, args.sf_dir)
            for f in dataclasses.fields(res):
                print(f"{f.name}: {getattr(res, f.name).count()}")
        else:
            from puma_matcher_spark.apps import run_curation_app

            res = run_curation_app(spark, args.sf_dir)
            print(f"stage counts: {res.stage_counts}")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
