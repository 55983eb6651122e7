"""Round-13 queries (plans/roundthirteen.py) — oracle parity, run
every session (registered in round 14 per the r13 cap ruling; cap
215, frozen). Mechanism deep-dives live in tests/test_agg_stats.py
and tests/test_snapshot_bloom.py."""

from __future__ import annotations

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.plans.roundthirteen import (
    AGG_STATS_ORACLE,
    COBUCKET_ORACLE,
    HISTORY_ORACLE,
    s_join_cobucketed,
    s_snapshot_agg_stats,
    s_snapshot_history,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_roundthirteen_is_registered_with_eager_oracles():
    """The r13 cap ruling executed in round 14: all four round-13
    queries are registered with eager oracles; cap 211 -> 215;
    round 15 moved it to 218 per the r14 ruling (roundfourteen
    activations); round 16 moved it to 221 per the r15 ruling
    (roundfifteen activations) and froze it there."""
    from turnover_odata_etl_spark.plans.registry import all_specs

    specs = all_specs()
    for name in (
        "s_snapshot_agg_stats", "s_snapshot_bloom_pruned_delete",
        "s_join_cobucketed", "s_snapshot_history",
    ):
        assert name in specs, name
        assert specs[name].oracle and specs[name].oracle.strip()
    assert len(specs) == 221  # the frozen cap (r15 ruling)


def test_agg_stats_query_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        s_snapshot_agg_stats(spark, sf_dir),
        _con(sf_dir),
        AGG_STATS_ORACLE,
        "s_snapshot_agg_stats",
    )


def test_agg_stats_query_meta_row_reports_zero_reads(spark, sf_dir):
    """The meta row's files_read column is the in-band zero-data-
    files pin: the manifest path must answer without opening any
    file at this fixture scale (all bounds exact: numerics + short
    event_type strings)."""
    rows = {
        r["path"]: r
        for r in s_snapshot_agg_stats(spark, sf_dir).collect()
    }
    assert rows["meta"]["files_read"] == 0
    assert rows["meta"]["n_rows"] == rows["scan"]["n_rows"]


def test_cobucket_query_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        s_join_cobucketed(spark, sf_dir),
        _con(sf_dir),
        COBUCKET_ORACLE,
        "s_join_cobucketed",
    )


def test_history_query_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        s_snapshot_history(spark, sf_dir),
        _con(sf_dir),
        HISTORY_ORACLE,
        "s_snapshot_history",
    )
