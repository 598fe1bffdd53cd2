"""Prune stale spark-warehouse artifact dirs (VERDICT r08 #6).

Write-path queries key their artifacts as ``{prefix}_{md5(sf_dir)[:8]}``
(``session.scratch_dir``; e.g. ``csv_ddbe1476``, ``orders_bkt_1a675cfc``)
and regenerate them on every run (rmtree / DROP TABLE first), so the
warehouse is a pure cache —
but nothing deleted dirs whose prefix left the code (a renamed query) or
whose sf_dir no longer exists. This sweep derives the LIVE set from the
repo itself:

  * prefixes: grep the package source for the two ``scratch_dir`` call
    shapes — ``scratch_dir("{prefix}", ...)`` and the bucketed-table
    ``scratch_dir(f"{tbl}_bkt", ...)`` loop (tbl in the adjacent tuple
    literal);
  * keys: md5 of sf dirs that exist on disk (testdata sf* plus the
    synthetic ``.scale_probe/*``).

Any top-level warehouse entry not matching live-prefix × live-key is
deleted (dry-run by default; ``--delete`` to apply). Metastore DROP is
unnecessary: bucketed tables are re-CREATEd with DROP TABLE IF EXISTS on
next use, and the sweep only removes files.

Usage: python tools/prune_warehouse.py [--delete]
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "videos_to_tfrecords_spark")
WAREHOUSE = os.path.join(REPO, "spark-warehouse")


def live_prefixes() -> set[str]:
    pat_scratch = re.compile(r"scratch_dir\(\s*\"([a-z0-9_]+)\"")
    pat_bkt_tbl = re.compile(r"\(\"([a-z]+)\",\s*\"[a-z_]+key\"\)")
    prefixes: set[str] = set()
    bkt_tables: set[str] = set()
    uses_bkt = False
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        src = open(path, encoding="utf-8").read()
        prefixes.update(pat_scratch.findall(src))
        if 'scratch_dir(f"{tbl}_bkt"' in src:
            uses_bkt = True
            bkt_tables.update(pat_bkt_tbl.findall(src))
    if uses_bkt:
        prefixes.update(f"{t}_bkt" for t in bkt_tables)
    return prefixes


def live_keys() -> dict[str, str]:
    dirs = sorted(glob.glob("/root/testdata/sf*")) + sorted(
        glob.glob(os.path.join(REPO, ".scale_probe", "*"))
    )
    return {
        hashlib.md5(d.encode()).hexdigest()[:8]: d
        for d in dirs
        if os.path.isdir(d)
    }


def main() -> int:
    apply = "--delete" in sys.argv
    prefixes, keys = live_prefixes(), live_keys()
    print(f"live prefixes ({len(prefixes)}): {sorted(prefixes)}")
    print(f"live sf keys  ({len(keys)}): {keys}")
    if not prefixes or not keys:
        print("refusing to sweep: empty live set (pattern drift?)")
        return 2
    entry_re = re.compile(r"^(?P<prefix>[a-z0-9_]+)_(?P<key>[0-9a-f]{8})$")
    stale = []
    for entry in sorted(os.listdir(WAREHOUSE)) if os.path.isdir(WAREHOUSE) else []:
        m = entry_re.match(entry)
        ok = bool(m) and m["prefix"] in prefixes and m["key"] in keys
        if not ok:
            stale.append(entry)
    if not stale:
        print("warehouse clean: every entry matches live prefix x live key")
        return 0
    for entry in stale:
        path = os.path.join(WAREHOUSE, entry)
        print(f"{'DELETE' if apply else 'stale '} {entry}")
        if apply:
            shutil.rmtree(path, ignore_errors=True)
    if not apply:
        print(f"{len(stale)} stale entries (dry run; re-run with --delete)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
