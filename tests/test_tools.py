"""tools/ maintenance scripts: the warehouse sweep (VERDICT r08 #6).

prune_warehouse operates on the filesystem and derives its live set from
the package source + on-disk sf dirs; only the check_oracle summary test
runs a query.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "prune_warehouse.py",
)


def _load():
    spec = importlib.util.spec_from_file_location("prune_warehouse", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_live_sets_nonempty():
    """The grep-derived live set must never silently go empty (the tool
    refuses to sweep in that case — this pins that the patterns still
    match the package's artifact-key construction idioms)."""
    mod = _load()
    prefixes = mod.live_prefixes()
    keys = mod.live_keys()
    assert prefixes, "prefix pattern drifted: no '{prefix}_' + md5 sites found"
    assert keys, "no sf dirs found on disk"
    # known long-lived write-path prefixes
    assert any(p.endswith("_bkt") for p in prefixes) or "csv" in prefixes


@pytest.mark.parametrize("apply", [False, True])
def test_sweep_keeps_live_deletes_stale(tmp_path, monkeypatch, apply):
    mod = _load()
    prefixes = sorted(mod.live_prefixes())
    keys = sorted(mod.live_keys())
    live_prefix, live_key = prefixes[0], keys[0]
    stale_key = hashlib.md5(b"/no/such/sf_dir").hexdigest()[:8]

    wh = tmp_path / "spark-warehouse"
    wh.mkdir()
    live = wh / f"{live_prefix}_{live_key}"
    stale_by_key = wh / f"{live_prefix}_{stale_key}"
    stale_by_prefix = wh / f"zz_gone_query_{live_key}"
    unparseable = wh / "random-dir"
    for d in (live, stale_by_key, stale_by_prefix, unparseable):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")

    monkeypatch.setattr(mod, "WAREHOUSE", str(wh))
    monkeypatch.setattr(sys, "argv", ["prune_warehouse.py"] + (["--delete"] if apply else []))
    assert mod.main() == 0

    assert live.exists(), "live prefix x live key must survive"
    for d in (stale_by_key, stale_by_prefix, unparseable):
        assert d.exists() is (not apply), f"{d.name}: dry-run keeps, --delete removes"


def test_refuses_on_empty_live_set(tmp_path, monkeypatch):
    mod = _load()
    monkeypatch.setattr(mod, "WAREHOUSE", str(tmp_path))
    monkeypatch.setattr(mod, "live_prefixes", lambda: set())
    monkeypatch.setattr(sys, "argv", ["prune_warehouse.py", "--delete"])
    assert mod.main() == 2


def test_scale_probe_rejects_option_argument(tmp_path, monkeypatch):
    """make_scale_probe takes its output directory as its only argument; an
    option such as --help must not become a directory of parquet files."""
    path = os.path.join(os.path.dirname(_TOOL), "make_scale_probe.py")
    spec = importlib.util.spec_from_file_location("make_scale_probe", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.chdir(tmp_path)
    assert mod.main(["--help"]) == 2
    assert mod.main([str(tmp_path / "a"), str(tmp_path / "b")]) == 2
    assert os.listdir(tmp_path) == []


def test_check_oracle_rejects_unknown_flag(monkeypatch, capsys):
    """A misspelt flag exits 2 and names it, and --help prints the usage
    and exits 0 — both before Spark or DuckDB start."""
    import duckdb

    import videos_to_tfrecords_spark.session as session

    path = os.path.join(os.path.dirname(_TOOL), "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def refuse(*args, **kwargs):
        raise AssertionError("an engine started")

    monkeypatch.setattr(duckdb, "connect", refuse)
    monkeypatch.setattr(session, "get_spark", refuse)
    assert mod.main(["--chaned"]) == 2
    assert "--chaned" in capsys.readouterr().err
    assert mod.main(["--help"]) == 0
    assert "Usage:" in capsys.readouterr().out


def test_check_oracle_summary_counts_queries_checked(spark, sf_dir, monkeypatch, capsys):
    """A run over named queries reports how many it checked, not the size
    of the whole registry."""
    import videos_to_tfrecords_spark.session as session

    path = os.path.join(os.path.dirname(_TOOL), "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    assert mod.main([sf_dir, "filename_extension_filter"]) == 0
    assert "0 failures / 1 queries" in capsys.readouterr().out
