"""Capture `.explain("formatted")` for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <suffix> <query> [<query> ...]
       python tools/capture_plans.py before doc_ngram_jaccard_pairs

Writes plans/r10/<query>_<suffix>.txt — the judge checks optimization
claims (Exchange counts, join strategies, pushed filters) against these
files, so capture a `before` for every query you intend to touch and an
`after` once the change lands.

Queries whose returned frame is already materialized (localCheckpoint)
collapse to a checkpoint scan; for those the interesting plan is printed
by the operator itself before materialization — this tool still records
the outer shape so before/after stay comparable.
"""

from __future__ import annotations

import os
import sys

#: the checkout this tool belongs to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    round_dir = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
    out_dir = os.path.join(ROOT, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from videos_to_tfrecords_spark.session import get_spark

    spark = get_spark("capture_plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}\n\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
