"""The big gate: every registered query with an oracle must match it.

This replicates the driver's CORRECTNESS check locally (sf0.001 by
default; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the
driver-scale run).
"""

from __future__ import annotations

import pytest

from turnover_odata_etl_spark.plans import registry
from .oracle_utils import compare_spark_vs_oracle

SPECS = registry.all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, oracle_con, registered_query):
    spec = SPECS[name]
    sdf, _ = registered_query(name)
    if spec.oracle is None:
        # rows-only check (driver does the same for oracle-less queries)
        assert sdf.count() >= 0
        return
    compare_spark_vs_oracle(sdf, oracle_con, spec.oracle, name)
