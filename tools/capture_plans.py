"""Capture the executed plan of headline (or named) queries into
<out>/<name>_<tag>.txt — an optimization's before/after evidence files.

Each frame runs once through its own QueryExecution, and the file holds
that execution's final adaptive plan (``isFinalPlan=true``): the plan
that actually ran, where AQE's join switches and exchange reuse
(``ReusedExchange``) show.  The pre-execution plan shows neither.

The files are ready to commit: the header names the scale (``sf0.01``),
not the ``--sf`` path, and ``Location:`` lines read ``<scratch>/...``
for the engine's scratch root and ``<sf>/...`` for the ``--sf`` dir.

Usage: python tools/capture_plans.py --tag before [--sf DIR] [--out DIR] [names...]
"""

from __future__ import annotations

import argparse
import os
import pathlib
import re
import sys
import tempfile

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def executed_plan(df) -> str:
    """Run ``df`` once through its QueryExecution (rows stay in the JVM)
    and return that execution's formatted final plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


def scrub_locations(plan: str, sf_dir: str) -> str:
    """Replace host paths in ``Location:`` lines: a scratch directory
    ``<root>/<prefix>_<random>`` becomes ``<scratch>/<prefix>``, the
    source dir becomes ``<sf>``."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH_ROOT") or tempfile.gettempdir()
    scratch = re.compile(
        r"(?:file:)?" + re.escape(root.rstrip("/"))
        + r"/([^/\s\],]+?)_[a-z0-9_]{8}(?=[/\]\s,])")
    source = re.compile(r"(?:file:)?" + re.escape(sf_dir.rstrip("/")))

    def scrub(m: re.Match) -> str:
        line = scratch.sub(r"<scratch>/\1", m.group(0))
        return source.sub("<sf>", line)

    return re.sub(r"(?m)^Location: .*$", scrub, plan)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--out", default="plans/r13")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from bench import HEADLINE
    from remove_na_lgbtiq_queer_knowledge_graph_spark.registry import all_specs
    from remove_na_lgbtiq_queer_knowledge_graph_spark.session import get_spark

    names = args.names or HEADLINE
    specs = all_specs()
    spark = get_spark("capture_plans")
    outdir = pathlib.Path(__file__).resolve().parents[1] / args.out
    outdir.mkdir(parents=True, exist_ok=True)
    scale = pathlib.Path(args.sf.rstrip("/")).name

    for name in names:
        if name not in specs:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        try:
            plan = executed_plan(specs[name].fn(spark, args.sf))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        plan = scrub_locations(plan, args.sf)
        path = outdir / f"{name}_{args.tag}.txt"
        path.write_text(f"# {name} @ {scale} ({args.tag})\n{plan}\n")
        print(f"wrote {path} ({plan.count(chr(10))} lines)")


if __name__ == "__main__":
    main()
