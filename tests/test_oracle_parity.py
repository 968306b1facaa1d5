"""Local replica of the driver's correctness gate: run every
`queries()[name]` on Spark AND `oracle_sql()[name]` on DuckDB over the
same parquet tables; compare row count, column names/order-insensitive
sorted values exactly.

Runs at sf0.001 by default (fast); set SPARK_GRAFT_SF_DIR_TEST to
/root/testdata/sf0.01 for the driver-scale check.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests._parity import assert_matches_oracle, duck_views


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_views(sf_dir)
    yield con
    con.close()


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    if name not in ORACLES:
        pytest.skip("no oracle (rows-only check)")
    assert_matches_oracle(name, QUERIES[name](spark, sf_dir), duck, ORACLES[name])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["id", "first_name", "last_name", "email", "phone"]


def test_rotation_front_keys_exist_and_window_is_full():
    """_ROTATION_FRONT drives which queries the driver's 50-row
    CORRECTNESS window samples. A typo'd key silently drops out of the
    reorder (the filter keeps only known keys), shrinking the window —
    this pins that every listed key exists, the list is duplicate-free,
    and the first 50 queries() entries are 50 DISTINCT keys."""
    front = entrymod._ROTATION_FRONT
    names = list(QUERIES)
    missing = [k for k in front if k not in QUERIES]
    assert not missing, f"_ROTATION_FRONT keys not in queries(): {missing}"
    assert len(front) == len(set(front)), "duplicate keys in _ROTATION_FRONT"
    assert 12 + len(front) <= 50, (
        f"front ({len(front)}) overflows the 50-slot window: the tail "
        "entries would silently fall outside the driver's sample"
    )
    assert len(set(names[:50])) == 50
    # every oracle key must have a queries() entry (a dangling oracle is
    # a dead driver row)
    dangling = [k for k in ORACLES if k not in QUERIES]
    assert not dangling, f"oracle_sql keys without queries(): {dangling}"
