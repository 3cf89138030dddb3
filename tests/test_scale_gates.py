"""Pytest wrappers for the standing scale gates (VERDICT r3 #8).

`pytest tests/` excludes these by default (pytest.ini deselects the
`scale` marker); run them explicitly after touching any oracle:

    python -m pytest -m scale tests/test_scale_gates.py -q

They share the exact code paths of scripts/run.py, so there is one
implementation to trust.
"""

from __future__ import annotations

import os

import pytest

from scripts import run

from .compare import duck_views

SF1_DIR = os.path.join(run.SCALE_DIR, "sf1")


@pytest.mark.scale
def test_knife_edge_stress_sf001(spark):
    """The two-layer flake detector one decade above the fast-suite guard
    (tests/test_float_stability.py runs it at sf0.001): boundary-sitting
    oracle floats are only a defect if ALSO order-dependent, so every
    sweep candidate is stressed under three shuffle-partition settings
    and compared at .17g against DuckDB."""
    sf_dir = f"{run.TESTDATA}/sf0.01"
    flagged = sorted(
        {n for n, _, _ in run.sweep(sf_dir) if not n.startswith("<")}
    )
    con = duck_views(sf_dir)
    bad = []
    for name in flagged:
        verdict, msg = run.stress(spark, con, name, sf_dir)
        if verdict != "SAFE":
            bad.append((name, verdict, msg))
    con.close()
    assert not bad, f"order-dependent boundary floats at sf0.01: {bad}"


@pytest.mark.scale
def test_probe_check_sf1_all_green_zero_skips(spark):
    if not os.path.isdir(SF1_DIR):
        pytest.skip(
            f"{SF1_DIR} missing - run scripts/gen_scale_data.py first"
        )
    fails, skips, total = run.check(
        SF1_DIR, sorted(run.REGISTRY), probes=True, timeout=600, spark=spark
    )
    assert total > 0
    assert fails == 0, f"{fails} sf1 oracle mismatches"
    assert skips == 0, f"{skips} watchdog skips (probes should prevent all)"
