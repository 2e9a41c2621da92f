"""t2 gate rehearsal: every catalog query with an oracle must match
DuckDB exactly at sf0.001 (the driver runs the same check at sf0.01)."""

from __future__ import annotations

import pytest

from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs

from .conftest import SF_SMOKE
from .oracle_utils import compare

SPECS = all_specs()
WITH_ORACLE = sorted(n for n, s in SPECS.items() if s.oracle is not None)


def _drain_footprint(spark) -> dict:
    """What a closed-input drain must leave as it found it."""
    return {
        "temp_views": sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        "active_streams": [q.name for q in spark.streams.active],
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "state_store": spark.conf.get("spark.sql.streaming.stateStore.providerClass", None),
    }


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, name):
    spec = SPECS[name]
    drain = "streaming" in spec.tags
    before = _drain_footprint(spark) if drain else None
    df = spec.spark(spark, SF_SMOKE)
    if drain:
        assert _drain_footprint(spark) == before, f"{name}: drain changed the session"
    ok, msg = compare(df, spec.oracle, SF_SMOKE)
    assert ok, f"{name}: {msg}"


def test_every_query_has_a_full_hash_oracle():
    """Round 5 eliminated the last rows-only queries; a regression that
    reintroduces ``oracle=None`` must FAIL here, not silently downgrade
    a query to the driver's weaker rows-only check."""
    rows_only = sorted(n for n, s in SPECS.items() if s.oracle is None)
    assert rows_only == [], f"queries downgraded to rows-only: {rows_only}"


def test_entry_contract(spark):
    """The correctness artifact records only the FIRST 50 entries of
    queries(): they must be exactly the entry module's own ``_WINDOW``
    (the one source of truth), followed by every other catalog name in
    numeric order."""
    import re

    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25
    assert list(qs) == sorted(SPECS, key=mod._catalog_order), (
        "queries() must expose catalog names in the window order"
    )
    # Guard the regex per-name so a future non-qNN exposed name fails
    # with a readable message, not AttributeError on NoneType.
    matches = {n: re.match(r"q(\d+)", n) for n in qs}
    bad = [n for n, m in matches.items() if m is None]
    assert not bad, f"non-canonical exposed names: {bad}"
    nums = [int(matches[n].group(1)) for n in qs]
    window = mod._WINDOW
    assert len(window) == 50 and len(set(window)) == 50, "window must be 50 distinct queries"
    assert nums[:50] == window, "queries() must open with the window"
    rest = nums[50:]
    assert rest == sorted(rest), "tail block not numeric-ordered"
    assert set(rest).isdisjoint(window), "window names repeated in tail"
