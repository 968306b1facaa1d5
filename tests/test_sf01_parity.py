"""Opt-in FULL oracle-parity sweep at sf0.1 (judge r8 ask #3): every
oracle pair, Spark vs DuckDB, at 10x the driver's correctness scale.
Catches the scale-DEPENDENT divergence classes the sf0.001/sf0.01 gates
cannot — partition-count-sensitive sampling, AQE plan flips, rounding
ties that only materialize on bigger value grids.

Run once per round:  python -m pytest tests/test_sf01_parity.py -m sf01 -q
(the repo pytest.ini deselects the sf01 marker by default, so the
normal suite's wall time is unchanged).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests._parity import assert_matches_oracle, duck_views

pytestmark = pytest.mark.sf01

SF01_DIR = "/root/testdata/sf0.1"

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck01():
    con = duck_views(SF01_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_sf01_query_matches_oracle(name, spark, duck01):
    assert_matches_oracle(name, QUERIES[name](spark, SF01_DIR), duck01, ORACLES[name])
