"""Incremental-recompute manifest semantics (mtime/force parity with the
reference's check_latest_update)."""

from __future__ import annotations

import os

from ncpi_whistler_spark.plans.incremental import BuildManifest, run_if_stale


def test_run_if_stale_lifecycle(tmp_path):
    src = tmp_path / "input.csv"
    src.write_text("a,b\n1,2\n")
    manifest = str(tmp_path / "out.manifest.json")
    runs = []

    def build():
        runs.append(1)

    # first build always runs
    assert run_if_stale(manifest, [str(src)], build) is True
    # unchanged inputs → skipped
    assert run_if_stale(manifest, [str(src)], build) is False
    assert len(runs) == 1
    # touch content → re-runs
    src.write_text("a,b\n1,3\n")
    assert run_if_stale(manifest, [str(src)], build) is True
    # force → runs even when current
    assert run_if_stale(manifest, [str(src)], build, force=True) is True
    assert len(runs) == 3


def test_missing_input_is_stale(tmp_path):
    src = tmp_path / "x"
    src.write_text("1")
    m = BuildManifest(str(tmp_path / "m.json"))
    m.record([str(src)])
    assert m.is_current([str(src)])
    os.remove(src)
    assert not m.is_current([str(src)])


def test_interrupted_build_leaves_no_manifest(tmp_path):
    src = tmp_path / "input.csv"
    src.write_text("a\n1\n")
    manifest = str(tmp_path / "out.manifest.json")
    assert run_if_stale(manifest, [str(src)], lambda: None) is True

    def crash():
        raise KeyboardInterrupt

    try:
        run_if_stale(manifest, [str(src)], crash, force=True)
    except KeyboardInterrupt:
        pass
    # the forced build died: the old manifest must not vouch for its output
    assert not os.path.exists(manifest)
    assert run_if_stale(manifest, [str(src)], lambda: None) is True


def test_input_edited_during_build_reads_as_changed(tmp_path):
    src = tmp_path / "input.csv"
    src.write_text("a\n1\n")
    manifest = str(tmp_path / "out.manifest.json")
    # the build saw the old content; the edit lands while it runs
    assert run_if_stale(manifest, [str(src)], lambda: src.write_text("a\n2\n")) is True
    assert run_if_stale(manifest, [str(src)], lambda: None) is True
    assert run_if_stale(manifest, [str(src)], lambda: None) is False
