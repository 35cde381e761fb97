"""The shuffle trend gate's pinned baseline (scripts/scan_audit.py
against scripts/scan_audit_baseline.json): the pin must be a full
sweep at the audit's default scale, so every registered query has a
prior to be gated against, and a sweep at another scale must find no
prior (cross-scale AQE choices differ). Reads JSON only; no Spark."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scan_audit import PINNED, _prior_shuffles  # noqa: E402

SF = "/root/testdata/sf0.001"


def _pin() -> dict:
    with open(PINNED) as f:
        return json.load(f)


def test_pin_is_recorded_at_sf0001():
    assert _pin()["sf_dir"] == SF


def test_pin_names_every_registered_query():
    """A query missing from the pin (or pinned without an int shuffle
    count) would silently escape the gate; a re-pin after a new
    registration must be a full sweep."""
    from big_data_analytics_final_project_spark.queries import all_queries

    pinned = _pin()["queries"]
    assert set(pinned) == set(all_queries())
    assert all(isinstance(q.get("shuffles"), int) for q in pinned.values())
    fname, shuffles = _prior_shuffles(SF)
    assert fname == os.path.basename(PINNED)
    assert shuffles == {n: q["shuffles"] for n, q in pinned.items()}


def test_mismatched_sf_returns_no_prior():
    """Cross-scale AQE choices differ; a different sf_dir must never
    be treated as a comparable prior."""
    fname, shuffles = _prior_shuffles("/root/testdata/sf0.1")
    assert fname is None and shuffles == {}
