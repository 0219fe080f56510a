"""Wrap-artifact parity guard (VERDICT r6 #4): the round's
CORRECTNESS_LOCAL artifact must cover EXACTLY the live catalog.

Round 6 shipped its CORRECTNESS_LOCAL artifact missing the 4 catalog keys
that landed after the artifact was generated — the judge had to re-run
them by hand. This test makes that impossible to ship silently: the
newest artifact's key set must equal `__spark_entry__.queries()`.

Mid-round the catalog legitimately runs ahead of the artifact (keys are
added continuously; the artifact regenerates once at wrap), so a
MISMATCH is only fatal when the artifact is NEWER than every catalog
source file — otherwise the test skips with the regeneration
instruction. Setting SPARK_GRAFT_WRAP=1 (the wrap checklist does)
removes the tolerance: any mismatch fails, which forces the wrap to
regenerate the artifact AFTER the last catalog change.
"""

import glob
import json
import os
import re

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_artifact() -> str | None:
    arts = glob.glob(os.path.join(_REPO, "CORRECTNESS_LOCAL_r*.json"))
    if not arts:
        return None
    return max(
        arts,
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )


def _catalog_mtime() -> float:
    pkg = os.path.join(_REPO, "azure_airbnb_cdc_ingestion_pipeline_spark")
    paths = [os.path.join(_REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(pkg):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return max(os.path.getmtime(p) for p in paths)


def test_correctness_local_artifact_matches_catalog():
    art_path = _newest_artifact()
    assert art_path is not None, "no CORRECTNESS_LOCAL_r*.json artifact"
    with open(art_path) as f:
        artifact_keys = set(json.load(f))
    import sys

    sys.path.insert(0, _REPO)
    import __spark_entry__ as entry

    catalog_keys = set(entry.queries())
    if artifact_keys != catalog_keys:
        stale = os.path.getmtime(art_path) < _catalog_mtime()
        if stale and not os.environ.get("SPARK_GRAFT_WRAP"):
            pytest.skip(
                f"{os.path.basename(art_path)} predates the latest catalog "
                "change — regenerate via tools/correctness_local.py at wrap "
                "(SPARK_GRAFT_WRAP=1 turns this skip into a failure)"
            )
    missing = sorted(catalog_keys - artifact_keys)
    extra = sorted(artifact_keys - catalog_keys)
    assert artifact_keys == catalog_keys, (
        f"{os.path.basename(art_path)} out of sync with the catalog: "
        f"missing={missing} extra={extra} — regenerate via "
        "tools/correctness_local.py AFTER the last catalog change"
    )
