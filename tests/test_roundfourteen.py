"""Round-14 queries (plans/roundfourteen.py): registration and the
dv-delete contract row. Their oracle comparisons run in
tests/test_oracle_parity.py; mechanism deep-dives live in
tests/test_snapshot_dv.py / test_snapshot_wap.py /
test_ivf_refresh.py."""

from __future__ import annotations

from turnover_odata_etl_spark.plans.roundfourteen import s_snapshot_dv_delete


def test_roundfourteen_is_registered_with_eager_oracles():
    """The r14 cap ruling executed in round 15: all three round-14
    queries are registered with eager oracles; cap 215 -> 218;
    round 16 moved it to 221 per the r15 ruling (roundfifteen
    activations) and froze it there."""
    from turnover_odata_etl_spark.plans.registry import all_specs

    specs = all_specs()
    for name in (
        "s_snapshot_dv_delete", "s_knn_ivf_refresh",
        "s_snapshot_wap_publish",
    ):
        assert name in specs, name
        assert specs[name].oracle and specs[name].oracle.strip()
    assert len(specs) == 221  # the frozen cap (r15 ruling)


def test_dv_delete_contract_row_pins_zero_rewrites(spark, sf_dir):
    """The contract row's n column is the in-band zero-data-files-
    rewritten pin; its s column is agg_stats's manifest-only live
    count — both must be self-consistent with the mor aggregate."""
    rows = s_snapshot_dv_delete(spark, sf_dir).collect()
    contract = [r for r in rows if r["label"] == "contract"]
    assert len(contract) == 1
    assert contract[0]["n"] == 0  # MOR rewrote no data file
    mor_total = sum(r["n"] for r in rows if r["label"] == "mor")
    assert contract[0]["s"] == float(mor_total)
