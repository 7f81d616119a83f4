"""Incremental-recompute layer (SURVEY.md §4: the reference's mtime-based
skip, wstlr/play.py:79-117,361-383, re-expressed as artifact
fingerprinting).

The reference compares file mtimes: whistle input is regenerated only when
some source (config, DD, data file, projector) is newer than the output,
with a --force override. Here each build step records a manifest of input
fingerprints (size + mtime; content hash optional for small files); a step
re-runs only when the fingerprint set changed. Driver-side by design —
deciding *whether* to run a Spark job must not itself be a Spark job.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
from dataclasses import dataclass


def _fingerprint(path: str, content_hash_limit: int = 1 << 20) -> dict:
    st = os.stat(path)
    fp = {"path": path, "size": st.st_size, "mtime_ns": st.st_mtime_ns}
    if st.st_size <= content_hash_limit:
        h = hashlib.sha256()
        with open(path, "rb") as fh:
            h.update(fh.read())
        fp["sha256"] = h.hexdigest()
    return fp


@dataclass
class BuildManifest:
    """Per-artifact input snapshot, persisted next to the artifact."""

    manifest_path: str

    def is_current(self, inputs: list[str], force: bool = False) -> bool:
        """True when every input fingerprint matches the recorded one
        (the reference's 'skip when nothing newer', with --force analog)."""
        if force or not os.path.exists(self.manifest_path):
            return False
        try:
            with open(self.manifest_path) as fh:
                recorded = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return False
        current = {}
        for p in inputs:
            if not os.path.exists(p):
                return False
            current[p] = _fingerprint(p)
        return recorded.get("inputs") == current

    def record(self, inputs: list[str], fingerprints: dict | None = None) -> None:
        """Persist the inputs' fingerprints; ``fingerprints`` when given
        (taken earlier), else taken now."""
        if fingerprints is None:
            fingerprints = {p: _fingerprint(p) for p in inputs}
        data = {"inputs": fingerprints}
        os.makedirs(os.path.dirname(self.manifest_path) or ".", exist_ok=True)
        with open(self.manifest_path, "w") as fh:
            json.dump(data, fh, indent=2)


def run_if_stale(
    manifest_path: str, inputs: list[str], build_fn, force: bool = False
) -> bool:
    """Run ``build_fn()`` only when inputs changed since the last recorded
    build. Returns True when the build ran.

    The manifest is deleted before the build, so an interrupted build
    leaves none and the next call rebuilds. The one written after the
    build holds the fingerprints taken before it, so an input edited
    while the build ran reads as changed next time."""
    manifest = BuildManifest(manifest_path)
    if manifest.is_current(inputs, force=force):
        return False
    fingerprints = {p: _fingerprint(p) for p in inputs}
    with contextlib.suppress(FileNotFoundError):
        os.remove(manifest_path)
    build_fn()
    manifest.record(inputs, fingerprints)
    return True
