"""CI guard for the attribution_linear flake class (VERDICT r2 item 2).

Two layers, both deterministic (no waiting for a 1-in-3 flake):

1. knife-edge detection — any DuckDB-oracle float within 1e-9 RELATIVE of
   a .6g rendering boundary is a candidate (legitimate on-grid values are
   ~5e-7 away and never flag);
2. order-dependence stress — each candidate query's Spark side runs under
   three different spark.sql.shuffle.partitions settings and is compared
   at FULL precision (.17g) against DuckDB, rows aligned by the .6g sort.

A query fails only if a boundary-sitting value also varies bitwise with
combine order — exactly the condition under which the driver's .6g hash
can flip run-to-run. Found sql_recursive_hierarchy (now quantized to
integer cents) beyond the original attribution_linear.
"""

from __future__ import annotations

import pytest

from scripts.run import stress, sweep

from .compare import duck_views
from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_SMOKE)
    yield con
    con.close()


def test_no_order_dependent_knife_edges(spark, duck):
    flagged = sorted({n for n, _, _ in sweep(SF_SMOKE) if not n.startswith("<")})
    # the sweep must at least run; an empty flag list is a clean pass
    bad = []
    for name in flagged:
        verdict, msg = stress(spark, duck, name, SF_SMOKE)
        if verdict != "SAFE":
            bad.append((name, verdict, msg))
    assert not bad, f"order-dependent boundary floats: {bad}"
