"""Driver-contract simulation: run EVERY registered query against its DuckDB
oracle exactly the way the driver does (sf0.001 here for speed; the driver
uses sf0.01 — set TEST_SF_DIR=/root/testdata/sf0.01 to replicate)."""

import pytest

import __spark_entry__ as entry_mod
import xarray_histogram_spark.entry_queries as _eq

from .util import assert_matches_sql, duck


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck(sf_dir)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_oracle_cover():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    # every query has an oracle (the weighted fast path uses an
    # integer-valued weight so its raw double sums are exact)
    missing = set(qs) - set(os_)
    assert missing == set(), f"queries without oracle: {missing}"


# The driver's correctness gate checks a ~50-query window off the FRONT
# of registry order (the rotation design): in the default driver-window
# profile the sweep covers the new and changed entries that lead the
# registry plus the 55 entries after them (the window with margin), and
# the entries past that — all byte-stable since their last driver green
# — carry @slow.  Re-gating a changed entry thus never pushes another
# out of the default sweep.  The FULL sweep runs with -m "" (pre-round-end
# gate discipline) and in every scripts/driver_sim.py sweep, which
# drives all entries at all three SFs.
_FRONT = set(_eq._NEW_THIS_ROUND) | set(_eq._CHANGED_THIS_ROUND)
_WINDOW = set(list(entry_mod.queries().keys())[: len(_FRONT) + 55])
_SWEEP = [
    n if n in _WINDOW else pytest.param(n, marks=pytest.mark.slow)
    for n in sorted(entry_mod.queries().keys())
]


@pytest.mark.parametrize("name", _SWEEP)
def test_query_matches_oracle(name, spark, sf_dir, con):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    df = fn(spark, sf_dir)
    if sql is None:
        assert df.count() >= 0
        return
    assert_matches_sql(df, sql, con)


def test_registry_never_drops_entries(monkeypatch):
    """Review regression: a name in BOTH _STALE_PRIORITY and
    _DRIVER_VERIFIED must still appear (in the tail), not vanish."""
    import xarray_histogram_spark.entry_queries as eq

    all_names = set(eq._REGISTRY)
    some_verified = next(iter(eq._DRIVER_VERIFIED & all_names))
    monkeypatch.setattr(
        eq, "_STALE_PRIORITY", eq._STALE_PRIORITY + (some_verified,)
    )
    assert set(eq.registry()) == all_names
