"""The scale harness (tools/scale_probe.py): every family runs end to
end with its semantic checks, staged corpora are keyed by their base
directory and rule, and SCALE.md's generated blocks match SCALE.json."""

from __future__ import annotations

import os
import shutil

import pytest
from conftest import SF_DIR

from tools import scale_probe as sp


@pytest.mark.parametrize("name", list(sp.FAMILIES))
def test_family_runs_at_1x_and_2x(spark, monkeypatch, name):
    """A smoke run, not a measurement: one run per scale instead of
    best of 3."""
    monkeypatch.setattr(sp, "runs", lambda x: 1)
    fam = sp.FAMILIES[name]
    rows = sp.run_family(spark, SF_DIR, fam, [1, 2])
    required = set(fam.checks) | ({fam.across[0]} if fam.across else set())
    assert [r["x"] for r in rows] == [1, 2]
    for r in rows:
        assert tuple(r) == sp.ROW_KEYS
        assert r["family"] == name and r["base"] == os.path.basename(SF_DIR)
        assert required <= set(r["checks"]), r["checks"]
        assert r["wall_s"] > 0 and r["cpu_s"] >= 0 and r["rows"] is not None
        assert r["jobs"] >= 1 and r["jvm_hwm_mb"] > 0


def test_checks_must_run(spark, monkeypatch):
    """A family whose check does not run fails, as one whose check
    fails does."""
    monkeypatch.setattr(sp, "runs", lambda x: 1)
    fam = sp.FAMILIES["ordered"]
    skipped = sp.Family(fam.name, fam.group, lambda spark, base, x: {
        **fam.run(spark, base, x), "checks": ["scale_shape"]}, fam.checks)
    with pytest.raises(sp.ScaleCheckError, match="dense_row_numbers"):
        sp.run_family(spark, SF_DIR, skipped, [1])
    with pytest.raises(sp.ScaleCheckError, match="linear"):
        sp._semdedup_linear({1: {"wall_s": 1.0}, 2: {"wall_s": 2.5}})


def test_staging_is_keyed_by_base_directory(spark, tmp_path):
    """Two bases with the same name stage to two paths, each with its
    own rows."""
    import pyarrow.parquet as pq

    one_row = tmp_path / os.path.basename(SF_DIR)
    one_row.mkdir()
    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    pq.write_table(events.slice(0, 1), str(one_row / "events.parquet"))
    a = sp.stage(spark, SF_DIR, "events", 2)
    b = sp.stage(spark, str(one_row), "events", 2)
    try:
        assert a != b
        assert spark.read.parquet(a).count() == 2 * events.num_rows
        assert spark.read.parquet(b).count() == 2
    finally:
        shutil.rmtree(os.path.dirname(b))


def test_staging_is_keyed_by_rule(monkeypatch):
    before = sp.stage_path(SF_DIR, "events", 10)
    rule, build = sp.STAGING["events"]
    monkeypatch.setitem(sp.STAGING, "events", (rule + ", changed", build))
    assert sp.stage_path(SF_DIR, "events", 10) != before


def test_scale_md_blocks_match_scale_json():
    """SCALE.md's generated blocks are exactly render(SCALE.json):
    re-run tools/scale_probe.py or tools/plan_audit.py to refresh."""
    with open(sp.SCALE_MD) as f:
        text = f.read()
    assert sp.splice(text, sp.render(sp.load())) == text


def test_scale_json_has_1x_and_10x_rows_per_family():
    data = sp.load()
    assert data["staging"] == {n: rule for n, (rule, _) in sp.STAGING.items()}
    rows = {(r["family"], r["x"]): r for r in data["rows"]}
    missing = [f for f in sp.FAMILIES if (f, 1) not in rows or (f, 10) not in rows]
    assert not missing, f"families without a 1x and a 10x row: {missing}"
    for (name, x), r in rows.items():
        assert tuple(r) == sp.ROW_KEYS
        if not r["measured"].startswith("not re-run"):
            assert set(sp.FAMILIES[name].checks) <= set(r["checks"]), (name, x)
