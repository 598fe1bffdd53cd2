"""Merge the round-9 sf1 value-gate segments into CHECK_SF1_r09.json.

The whole-suite sf1 gate ran in segments this round (the first run was
killed to fix the oracle-side multi-referenced-CTE blowups it exposed;
a second run cascaded bogus DuckDB OOM rows off a poisoned connection,
fixed in check_oracle.py): segment A/B logs + the embedding_dup_clusters
solo spot-run + the --json records of segments D/E. Every record is an
actual sf1 run of the CURRENT oracle strings except segments A/B, which
predate the graph/similarity MATERIALIZED hints — those hints are
oracle-evaluation-order only (result-identical; sf0.01 module gates
re-verified 0/387 after each), so the A/B value verdicts stand.

Usage: python tools/merge_sf1_gate.py <seg.json ...> <out.json>
Each seg may be a bare {name: record} map or a check_oracle --json file
with a "queries" key. Later segments win on duplicate names.
"""

from __future__ import annotations

import json
import os
import sys

#: the checkout this tool belongs to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    *seg_paths, out = sys.argv[1:]
    merged: dict[str, dict] = {}
    for p in seg_paths:
        d = json.load(open(p))
        merged.update(d.get("queries", d))
    failures = sorted(n for n, r in merged.items() if r.get("status") == "fail")
    rows_only = sorted(n for n, r in merged.items() if r.get("status") == "rows-only")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as e
    from videos_to_tfrecords_spark.plans.registry import ENV_GATED

    registry = list(e.queries())
    # env-gated rows (registered iff an optional dep imports, e.g.
    # video_decode_real_census on cv2 boxes) are excluded from "missing":
    # otherwise the merged verdict depends on the MERGING box's env, not
    # on the gate runs (ADVICE r09). They're recorded separately.
    missing = sorted(set(registry) - set(merged) - ENV_GATED)
    env_gated_absent = sorted(ENV_GATED - set(merged))
    json.dump(
        {
            "sf_dir": os.path.join(ROOT, ".scale_probe", "sf1"),
            "n_registry": len(registry),
            "n_run": len(merged),
            "failures": len(failures),
            "failed_queries": failures,
            "rows_only": rows_only,
            "missing": missing,
            "env_gated_absent": env_gated_absent,
            "segments": seg_paths,
            "queries": dict(sorted(merged.items())),
        },
        open(out, "w"),
        indent=1,
        sort_keys=False,
    )
    print(f"{len(merged)} merged, {len(failures)} failures, "
          f"{len(rows_only)} rows-only, {len(missing)} missing -> {out}")
    return 0 if not failures and not missing else 1


if __name__ == "__main__":
    sys.exit(main())
