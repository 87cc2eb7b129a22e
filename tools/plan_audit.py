"""Physical-plan audit of the battery queries.

For every `queries()` entry, captures `explain(formatted)` at sf0.01 and
extracts the scale-relevant plan properties:

  - exchanges: count of shuffle Exchange nodes (each is a full
    re-partition of the stream - the fewer, the better the 100 TB story)
  - broadcasts: BroadcastExchange/BroadcastHashJoin usage (small dims
    must broadcast, never shuffle the big side)
  - pushed: PushedFilters reaching the parquet scan (predicate pushdown)
  - read_cols: ReadSchema width per scan vs the table's full width
    (column pruning - a 2-column projection must not scan 10 columns)
  - codegen: WholeStageCodegen span count (JVM-side expression work)
  - python: ArrowEvalPython / MapInPandas / MapInArrow /
    FlatMapGroupsInPandas nodes
    (each is an Arrow boundary - should match the operator's design,
    e.g. the flagship has exactly ONE)

Usage: python tools/plan_audit.py [sf_dir] [query ...] [--write]
  --write regenerates PLANS.md (the committed audit).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(df) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        # formatted-mode markers: "(N) Exchange", "[codegen id : N]",
        # "(N) Scan parquet", python eval nodes by their node names.
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]",
                                            plan))),
        "python_nodes": sorted(set(re.findall(
            r"\(\d+\) (ArrowEvalPython|MapInPandas|MapInArrow"
            r"|FlatMapGroupsInPandas|AggregateInPandas)", plan))),
        "pushed_filters": sorted(set(p for p in pushed if p)),
        "read_cols": [len([c for c in rs.split(",") if ":" in c])
                      for rs in read_schemas],
        "plan": plan,
        "n_scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
    }


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from geeflow_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit")
    qs = entrymod.queries()
    rows = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        a = audit_plan(df)
        rows.append((name, a))
        py = ",".join(sorted(set(a["python_nodes"]))) or "-"
        print(f"{name:28s} exch={a['exchanges']} bcast={a['broadcasts']} "
              f"codegen={a['codegen_spans']} scans={a['n_scans']} "
              f"readcols={a['read_cols']} py={py}")

    if write:
        with open("PLANS.md", "w") as f:
            f.write(
                "# Physical-plan audit (generated by tools/plan_audit.py)"
                "\n\nPer battery query: shuffle Exchange count, broadcast"
                " usage,\nWholeStageCodegen span count, parquet scan count"
                " + ReadSchema\nwidths (column pruning), Arrow-boundary"
                " nodes. Regenerate with\n`python tools/plan_audit.py"
                " --write`.\n\n"
                "| query | exchanges | broadcasts | codegen | scans | "
                "read cols/scan | python nodes | pushed filters |\n"
                "|---|---|---|---|---|---|---|---|\n")
            for name, a in rows:
                py = ", ".join(sorted(set(a["python_nodes"]))) or "-"
                pf = "; ".join(a["pushed_filters"])[:70] or "-"
                f.write(f"| {name} | {a['exchanges']} | {a['broadcasts']} "
                        f"| {a['codegen_spans']} | {a['n_scans']} | "
                        f"{a['read_cols']} | {py} | {pf} |\n")
        print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
