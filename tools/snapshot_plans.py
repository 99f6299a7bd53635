"""Dump normalised physical plans (`explain("formatted")`, sf0.001).

Default: regenerate docs/PLANS.md from the headline queries, as
evidence that the scale-critical plan shapes hold (pushdown reaching
the scan, broadcasts where intended, bounded shuffles, whole-stage
codegen spans).

Before/after: write one `<query>.txt` per named query into a
directory, importing `jly_flink_spark` from another source tree when
`--root` is given, then diff the two directories:

    git archive <rev> | tar -x -C /tmp/before
    python tools/snapshot_plans.py --queries a,b --out /tmp/p0 --root /tmp/before
    python tools/snapshot_plans.py --queries a,b --out /tmp/p1
    diff -r /tmp/p0 /tmp/p1

Each side runs as its own process so it imports its own package.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def normalise(text: str) -> str:
    """Mask the ids that differ between runs of the same plan:
    expression ids, plan ids, exchange ids, RDD ids and the view
    names of `spark.sql` DataFrame parameters."""
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"\[id=#?N?\d*\]", "", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"_pyspark_[0-9a-f]{32}", "_pyspark_V", text)
    return text.rstrip()


def plan_of(registry, spark, name: str) -> str:
    df = registry[name].spark_fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return normalise(buf.getvalue())


def write_plans_md(registry, spark) -> None:
    from bench import HEADLINE

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `tools/snapshot_plans.py` (sf0.001 inputs; plan",
        "SHAPE is scale-independent — AQE may re-plan exchanges at",
        "runtime). What to look for, per the 100 TB design rules:",
        "`PushedFilters`/`ReadSchema` at every scan, `BroadcastHashJoin`",
        "for dimension sides, no `Exchange` beyond the budgeted ones",
        "(tests/test_plans.py pins the counts), wide",
        "`WholeStageCodegen` spans.",
        "",
    ]
    for name in HEADLINE:
        doc = (registry[name].doc or "").strip().replace("\n", " ")
        out.append(f"## {name}")
        out.append("")
        if doc:
            out.append(f"> {doc}")
            out.append("")
        out.append("```")
        out.append(plan_of(registry, spark, name))
        out.append("```")
        out.append("")
    path = os.path.join(REPO, "docs", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(HEADLINE)} plans)")


def write_plan_files(registry, spark, names: list[str], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in registry:
            print(f"{name}: not registered in this tree, skipped")
            continue
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan_of(registry, spark, name) + "\n")
        print(f"{name}: wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queries", help="comma-separated query names")
    ap.add_argument("--out", help="directory for <query>.txt plan files")
    ap.add_argument(
        "--root", default=REPO, help="source tree to import the package from"
    )
    args = ap.parse_args()
    if bool(args.queries) != bool(args.out):
        ap.error("--queries and --out go together")

    # the package from --root; bench.HEADLINE from this checkout. The
    # Python workers import the package too (staged UDFs run while a
    # plan is built), and the JVM started below hands its environment's
    # PYTHONPATH to them.
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, REPO]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from jly_flink_spark.plans import REGISTRY
    from jly_flink_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
        write_plan_files(REGISTRY, spark, names, args.out)
    else:
        write_plans_md(REGISTRY, spark)


if __name__ == "__main__":
    main()
