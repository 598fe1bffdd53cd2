"""Physical-plan audit: for every registered query, count the plan features
that matter at 100 TB (shuffles, broadcasts, join strategies, codegen) and
write PLANS.md. Run after changing any operator to see whether a plan
regressed (an unexpected extra Exchange is a bug even when results match).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

#: the checkout this tool belongs to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

FEATURES = {
    "shuffles": r"Exchange hashpartitioning|Exchange rangepartitioning",
    "broadcasts": r"BroadcastExchange",
    "bhj": r"BroadcastHashJoin",
    "smj": r"SortMergeJoin",
    "aggs": r"HashAggregate|ObjectHashAggregate|SortAggregate",
    "windows": r"\bWindow\b|RunningWindowFunction",
    "python": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|MapInArrow|BatchEvalPython",
    "scans": r"FileScan|BatchScan",
    "topk": r"TakeOrderedAndProject",
    # single-partition exchanges: each one is a potential scale-killer
    # unless its input is provably bounded (SCALE.md round-8 table) —
    # diff this column across rounds to catch new unbounded global sorts
    "single_part": r"Exchange SinglePartition",
}


def main() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from videos_to_tfrecords_spark.materialize import inner_plans, plan_text
    from videos_to_tfrecords_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    rows = []
    for name, fn in entrymod.queries().items():
        try:
            with inner_plans() as inner:
                df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            rows.append((name, {"error": str(exc)[:60]}))
            continue
        # eager materialization (localCheckpoint / driver union-find)
        # collapses the audited plan to a checkpoint scan — flag it so the
        # row reads as "executed at construction", not "free"
        eager = bool(inner) or (
            re.search(r"ExistingRDD|Scan ExistingRDD|LogicalRDD", plan)
            and not re.search(FEATURES["scans"], plan)
        )
        # the plans that materialize-scope checkpoints ran count too
        plan = "\n".join([plan, *map(plan_text, inner)])
        counts = {k: len(re.findall(pat, plan)) for k, pat in FEATURES.items()}
        counts["_eager"] = eager
        rows.append((name, counts))

    cols = list(FEATURES)
    lines = [
        "# PLANS — physical-plan audit per query",
        "",
        "Counts from `.explain` of each registered query (pre-execution AQE",
        "plan; streaming/iterative queries audit their final batch plan where",
        "applicable). Columns: hash/range shuffles, broadcast exchanges,",
        "broadcast-hash vs sort-merge joins, aggregates (partial+final),",
        "window operators, Python (Arrow) boundaries, file scans, top-k,",
        "single-partition exchanges. Reading `single_part`: a global",
        "scalar reduce (`agg` with no groupBy) plans partial map-side",
        "aggregation and then ONE-ROW-per-partition final exchange — that",
        "SinglePartition input is metadata-sized and fine at any scale, as",
        "are the ≤shuffle-partitions offset tables of operators/ordered.py",
        "and post-limit top-k ranks. What must NEVER appear is a",
        "SinglePartition exchange feeding a Window/Sort whose input grows",
        "with a data dimension — SCALE.md's round-8 table is the per-site",
        "boundedness ledger; diff this column across rounds to catch new",
        "ones.",
        "Generated by tools/plan_audit.py — regenerate after operator changes.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "|".join(["---"] * len(cols)) + "|",
    ]
    for name, counts in rows:
        if "error" in counts:
            lines.append(f"| {name} | error: {counts['error']} |")
        else:
            tag = " ‡" if counts.get("_eager") else ""
            lines.append(
                f"| {name}{tag} | " + " | ".join(str(counts[c]) for c in cols) + " |"
            )
    lines += [
        "",
        "‡ materialized at construction (localCheckpoint after a verify",
        "stage, or driver union-find on a collected-size edge list): the",
        "audited plan is the checkpoint scan. Checkpoints made through",
        "`materialize.materialized` add the plans they ran to the row's",
        "counts; other internal shapes ran as jobs during construction and",
        "are documented in the operator's docstring + SCALE.md. In those",
        "checkpoint plans a scan of a persisted frame counts, the frame's own",
        "plan does not.",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
