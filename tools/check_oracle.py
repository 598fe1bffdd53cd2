"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, schema (column names), and an order-insensitive value hash
(columns sorted by name, rows sorted, values canonicalized). Use while
iterating so the driver's CORRECTNESS_r{N}.json holds no surprises.

Usage: python tools/check_oracle.py [flags] [sf_dir] [query ...]
Flags:
  --cache      persist each table scan once per session (SPARK_GRAFT_CACHE_TABLES)
  --changed    only run queries whose defining plans/ module appears in
               `git diff HEAD --name-only`; any diff OUTSIDE plans/ (operators,
               sources, functions, ...) falls back to the full suite because a
               shared helper can affect any query
  --twice      run every Spark query twice in one session and require the
               same value hash (statefulness probe)
  --tz=ZONE    run the Spark side in a session whose time zone is ZONE, to
               prove load_table's UTC pinning (the oracle side has no zone)
  --json=PATH  write one record per query (status, rows, seconds) to PATH
  --help       print this text
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

#: the checkout this tool belongs to
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR_DEFAULT = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_DUCK_INT_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}


def duck_num_class(type_str: str, has_null: bool) -> str | None:
    """Driver-visible pandas numeric class of a DuckDB column.

    DuckDB's ``.df()`` fetches plain integer types to int64 (float64 when
    NULLs are present), and HUGEINT / DECIMAL / DOUBLE / FLOAT all to
    float64 — empirically verified on this box (DuckDB 1.0.0). The r5/r6
    ``curation_funnel_census`` red row was exactly this: an uncast
    ``sum(BIGINT)`` branch widened the UNION column to HUGEINT → float64,
    while the engine emitted int64."""
    t = type_str.upper()
    if t in _DUCK_INT_TYPES:
        return "float" if has_null else "int"
    if t == "HUGEINT" or t.startswith("DECIMAL") or t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    return None


def spark_num_class(simple: str, has_null: bool) -> str | None:
    """Driver-visible pandas numeric class of a Spark column (Arrow
    ``toPandas``): integral types → int64 (float64 with NULLs), floats →
    float64, DECIMAL → object-of-Decimal, which NEVER matches a DuckDB
    numeric class — decimal outputs must be cast before returning."""
    if simple in ("tinyint", "smallint", "int", "bigint"):
        return "float" if has_null else "int"
    if simple in ("double", "float"):
        return "float"
    if simple.startswith("decimal"):
        return "decimal"
    return None


def dtype_mismatches(
    scols: list[str],
    stypes: dict[str, str],
    srows: list[tuple],
    dcols: list[str],
    dtypes: dict[str, str],
    drows: list[tuple],
) -> list[str]:
    """STRICT dtype parity (VERDICT r6 #1c): the driver's canonicalizer
    distinguishes int64 from float64 from object-of-Decimal, so any query
    whose two engines disagree on the numeric class of an output column is
    a latent driver red row even when the values hash equal after the old
    int-float collapse. Returns human-readable mismatch descriptions."""
    si = {c: i for i, c in enumerate(scols)}
    di = {c: i for i, c in enumerate(dcols)}
    out = []
    for c in scols:
        if c not in di:
            continue
        snull = any(r[si[c]] is None for r in srows)
        dnull = any(r[di[c]] is None for r in drows)
        sc = spark_num_class(stypes[c], snull)
        dc = duck_num_class(dtypes[c], dnull)
        if sc is not None and dc is not None and sc != dc:
            out.append(
                f"dtype[{c}] spark {stypes[c]}->{sc} vs duck {dtypes[c]}->{dc}"
            )
    return out


def canon(v) -> str:
    """Canonical string for a cell value, tolerant of float representation
    and int-vs-float dtype drift between engines (the dtype-parity check
    above enforces class agreement separately and strictly)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def parse_args(argv: list[str]) -> tuple[list[str], dict[str, str | bool]] | int:
    """Split ``argv`` into positional arguments and flags (module docstring).
    Returns an exit code instead when the run should not start: 0 after
    ``--help`` printed the usage, 2 for an unknown flag."""
    args: list[str] = []
    flags: dict[str, str | bool] = {}
    for a in argv:
        name, eq, value = a.partition("=")
        if not a.startswith("-"):
            args.append(a)
        elif a in ("--help", "-h"):
            print(__doc__)
            return 0
        elif name in ("--cache", "--changed", "--twice") and not eq:
            flags[name] = True
        elif name in ("--tz", "--json") and value:
            flags[name] = value
        else:
            print(f"check_oracle: unknown flag {a} (see --help)", file=sys.stderr)
            return 2
    return args, flags


def main(argv: list[str] | None = None) -> int:
    parsed = parse_args(sys.argv[1:] if argv is None else argv)
    if isinstance(parsed, int):
        return parsed
    args, flags = parsed
    sf_dir = args[0] if args else SF_DIR_DEFAULT
    only = set(args[1:])
    twice = bool(flags.get("--twice"))
    if flags.get("--cache"):
        os.environ["SPARK_GRAFT_CACHE_TABLES"] = "1"

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    if flags.get("--changed") and not only:
        import subprocess

        from videos_to_tfrecords_spark.plans.registry import MODULES

        diff = subprocess.run(
            ["git", "-C", ROOT, "diff", "HEAD", "--name-only"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        touched = {f for f in diff if f.endswith(".py")}
        non_plan = {f for f in touched if "/plans/" not in f}
        if non_plan:
            print(f"--changed: non-plans diff {sorted(non_plan)} -> full suite")
        elif touched:
            mods = {
                f.removeprefix("videos_to_tfrecords_spark/plans/")
                .removesuffix(".py")
                for f in touched
            }
            only = {
                n for n, m in MODULES.items() if m.rsplit(".", 1)[-1] in mods
            }
            print(f"--changed: {sorted(mods)} -> {len(only)} queries")
        else:
            print("--changed: no python diff -> nothing to run")
            return 0

    from videos_to_tfrecords_spark.session import get_spark

    # --tz=America/New_York: a NON-UTC session proves load_table's UTC
    # pinning protects every timezone-sensitive query (a real round-1 bug
    # class); the oracle side is timezone-free either way
    tz = flags.get("--tz")
    if tz:
        spark = get_spark(
            "check_oracle_tz", extra_conf={"spark.sql.session.timeZone": tz}
        )
    else:
        spark = get_spark("check_oracle")

    def fresh_con():
        """Connection with an explicit memory budget and spill directory.
        DuckDB's default limit (80% of RAM) overcommits next to the 24g
        Spark JVM, and once its allocator OOMs, the CONNECTION is poisoned
        — every later 2 KB allocation fails with 90 GB free (the r9 sf1
        gate cascaded 91 such failures). Bounded limit + disk spill makes
        heavy oracles spill instead of OOM; the retry below replaces a
        poisoned connection."""
        c = duckdb.connect()
        # $SPARK_GRAFT_DUCK_MEM overrides for solo re-runs of spill-heavy
        # oracles (48GB forces the curation closure to ~80GB of disk
        # spill at sf1; a solo run can afford RAM instead). Unset default:
        # min(48GB, ~80% of physical RAM) — a flat 48GB on a smaller box
        # raises DuckDB's budget ABOVE RAM, so heavy oracles get
        # OS-OOM-killed instead of spilling (ADVICE r09).
        mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
        if mem is None:
            try:
                ram_gb = (
                    os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
                ) / (1 << 30)
                mem = f"{min(48, max(1, int(ram_gb * 0.8)))}GB"
            except (ValueError, OSError):
                mem = "48GB"
        c.execute(f"SET memory_limit='{mem}'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return c

    con = fresh_con()

    # --json=PATH: persist one record per query (status/rows/secs) so a
    # whole-suite gate at a non-default SF leaves a citable artifact
    # instead of only scrollback (the r8 sf1 gate died unrecorded)
    json_out = flags.get("--json")
    record: dict[str, dict] = {}

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            record[name] = {"status": "fail", "err": f"spark: {e}"[:300]}
            failures += 1
            continue
        if twice:
            # --twice: same-session double-pass stability — the second run
            # of the SAME callable must hash-match the first. Catches
            # temp-view/cache/streaming-table statefulness that a
            # single-pass driver run never sees (verify-skill probe class,
            # persisted here so the result is a citable record).
            try:
                sdf2 = fn(spark, sf_dir)
                srows2 = [tuple(r) for r in sdf2.collect()]
            except Exception as e:  # noqa: BLE001
                print(f"DRIFT {name}: second same-session run errored: {e}")
                record[name] = {
                    "status": "drift",
                    "err": f"rerun: {e}"[:300],
                }
                failures += 1
                continue
            if table_hash(sdf2.columns, srows2) != table_hash(scols, srows):
                print(
                    f"DRIFT {name}: second same-session run differs "
                    f"({len(srows)} vs {len(srows2)} rows)"
                )
                record[name] = {
                    "status": "drift",
                    "rows": len(srows),
                    "rows2": len(srows2),
                }
                failures += 1
                continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            record[name] = {
                "status": "rows-only",
                "rows": len(srows),
                "secs": round(time.time() - t0, 1),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = {c: str(t) for c, t in zip(rel.columns, rel.types)}
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            # retry once on a FRESH connection: a prior heavy oracle can
            # leave this one's allocator accounting poisoned (see
            # fresh_con) — only a repeat failure is a real red row.
            # Gate the retry on allocator/OOM-shaped messages (ADVICE
            # r09): a binder/syntax error or a genuine per-query OOM is
            # deterministic, and re-running a multi-minute sf1 oracle
            # doubles time-to-red for nothing.
            msg = str(e).lower()
            if not any(
                k in msg
                for k in (
                    "out of memory",
                    "could not allocate",
                    "memory limit",
                    "allocation fail",
                )
            ):
                print(f"FAIL  {name}: duckdb error: {e}")
                record[name] = {"status": "fail", "err": f"duckdb: {e}"[:300]}
                failures += 1
                continue
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            con = fresh_con()
            try:
                rel = con.sql(oracles[name])
                dcols = list(rel.columns)
                dtypes = {c: str(t) for c, t in zip(rel.columns, rel.types)}
                drows = rel.fetchall()
                print(f"      ({name}: first attempt failed [{str(e)[:80]}], fresh-connection retry succeeded)")
            except Exception as e2:  # noqa: BLE001
                print(f"FAIL  {name}: duckdb error: {e2}")
                record[name] = {"status": "fail", "err": f"duckdb: {e2}"[:300]}
                failures += 1
                continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        problems += dtype_mismatches(scols, stypes, srows, dcols, dtypes, drows)
        if not problems:
            sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            if sh != dh:
                problems.append(f"value-hash spark={sh} duck={dh}")
                # show a few differing lines to debug
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(canon(r[i]) for i in order_s) for r in srows)
                dset = sorted("|".join(canon(r[i]) for i in order_d) for r in drows)
                import difflib

                diff = [
                    line
                    for line in difflib.unified_diff(sset, dset, lineterm="", n=0)
                    if line[:1] in "+-" and line[:3] not in ("+++", "---")
                ]
                for line in diff[:6]:
                    print(f"      {line}")
        secs = round(time.time() - t0, 1)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            record[name] = {
                "status": "fail",
                "rows": len(srows),
                "secs": secs,
                "err": "; ".join(problems)[:300],
            }
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows  ({secs}s)")
            record[name] = {"status": "ok", "rows": len(srows), "secs": secs}
    print(f"\n{failures} failures / {len(record)} queries")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_run": len(record),
                    "n_registry": len(queries),
                    "failures": failures,
                    "queries": record,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"record written: {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
