"""Round-15 queries (plans/roundfifteen.py) — registration.
Registered round 16 per the r15 cap ruling (cap 218 -> 221, frozen
there). Their oracle parity runs in tests/test_oracle_parity.py;
mechanism deep-dives live in tests/test_quality.py."""

from __future__ import annotations

from turnover_odata_etl_spark.plans.registry import all_specs

R15 = ("t_quality_classifier", "s_snapshot_tag_gc", "s_group_wap_rebuild")


def test_roundfifteen_is_registered_with_eager_oracles():
    """The r15 cap ruling executed in round 16: all three round-15
    queries are registered with eager oracles; cap 218 -> 221,
    frozen there."""
    specs = all_specs()
    for name in R15:
        assert name in specs, name
        assert specs[name].oracle and specs[name].oracle.strip()
    assert len(specs) == 221  # the frozen cap (r15 ruling)
