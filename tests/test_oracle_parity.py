"""Every registered query must hash-match its DuckDB oracle.

This mirrors the driver's t2 correctness gate. Default scale is sf0.001
for speed; set PARITY_SF_DIR=/root/testdata/sf0.01 to run the driver's
actual scale.
"""

from __future__ import annotations

import os

import pytest

from python_sql_etl_project_spark import registry

from .parity import assert_query_matches_oracle

registry.load_all()

PARITY_SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


#: Queries whose oracle encodes an EMPIRICALLY PROBED Spark-internal
#: contract (watermark commit-lag: the watermark active in batch k
#: derives from data through batch k-2). Verified on the pinned minor
#: below; on any other Spark the parity check XFAILS instead of failing,
#: so an engine upgrade surfaces as an expected-to-investigate signal,
#: not a correctness regression (ADVICE r3: version-pin the tripwire).
#:
#: RE-VALIDATION RECIPE on a Spark bump (one step):
#:
#:   PARITY_SF_DIR=/root/testdata/sf0.01 python -m pytest \
#:     tests/test_oracle_parity.py -k \
#:     "strm_watermark_late_drop or strm_signup_purchase_leftouter" -q
#:
#: * both PASS on the new version → the lag model still holds: bump
#:   WATERMARK_LAG_PINNED_MINOR to the new minor and commit;
#: * either XFAILS → the commit-lag changed: re-derive the model per
#:   the empirical-probe notes in ``streaming/windows.py`` (the
#:   ``strm_watermark_late_drop`` docstring names the probe), update
#:   the two oracles' lag constant, then bump the pin.
WATERMARK_LAG_PINNED_MINOR = "4.1"
VERSION_PINNED = {"strm_watermark_late_drop", "strm_signup_purchase_leftouter"}


def _assert_parity(spark, name):
    if name in VERSION_PINNED and not spark.version.startswith(
        WATERMARK_LAG_PINNED_MINOR
    ):
        try:
            assert_query_matches_oracle(spark, name, PARITY_SF_DIR)
        except AssertionError:
            pytest.xfail(
                f"{name}'s oracle hard-codes Spark {WATERMARK_LAG_PINNED_MINOR}"
                f" watermark commit-lag; running {spark.version} — re-probe"
                " the lag model (streaming/windows.py docstrings)"
            )
        return
    assert_query_matches_oracle(spark, name, PARITY_SF_DIR)


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_query_matches_oracle(spark, name):
    _assert_parity(spark, name)


#: Join strategy forced away from the session's posture: no
#: auto-broadcast (only explicit hints still broadcast) and no AQE
#: re-planning.
HOSTILE_JOIN_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.enabled": "false",
}


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_query_matches_oracle_under_hostile_join_conf(spark, name):
    """Join strategy is the planner's call, so no result may depend on
    it: every query also matches its oracle with auto-broadcast and AQE
    switched off."""
    prev = {k: spark.conf.get(k) for k in HOSTILE_JOIN_CONF}
    try:
        for k, v in HOSTILE_JOIN_CONF.items():
            spark.conf.set(k, v)
        _assert_parity(spark, name)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_every_query_runs(spark):
    """Queries without an oracle still must run and return a schema."""
    for name, fn in registry.QUERIES.items():
        df = fn(spark, PARITY_SF_DIR)
        assert df.columns, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
