"""Round-8 queries (plans/roundeight.py) — oracle-tested every session.
Staged through round 7; registered in round 8 per the r07 cap ruling
(registry 201 from round 10, frozen)."""

from __future__ import annotations

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.plans.registry import all_specs
from turnover_odata_etl_spark.plans.roundeight import (
    GIF_ORACLE,
    m_gif_decode_features,
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


def test_gif_decode_features_matches_oracle(spark, sf_dir):
    assert GIF_ORACLE  # eager constant, never None
    compare_spark_vs_oracle(
        m_gif_decode_features(spark, sf_dir),
        _con(sf_dir),
        GIF_ORACLE,
        "m_gif_decode_features",
    )


def test_roundeight_is_registered():
    """Round 8 activated the nine staged queries per the r07 cap
    ruling; round 10 moved the cap to 201 per the r09 ruling
    (roundnine activations); round 12 moved it to 206 per the r11
    ruling; round 13 moved it to 211 per the r12 ruling (roundtwelve
    activations); round 14 moved it to 215 per the r13 ruling
    (roundthirteen activations); round 15 moved it to 218 per the
    r14 ruling (roundfourteen activations); round 16 moved it to 221
    per the r15 ruling (roundfifteen activations) and froze it
    there."""
    specs = all_specs()
    for name in (
        "m_gif_decode_features",
        "m_g711_decode_features",
        "m_flac_decode_features",
        "m_tiff_decode_features",
        "m_mixed_image_decode_features",
        "s_snapshot_pruned_read",
        "s_snapshot_changes",
        "s_snapshot_incremental_agg",
        "d_exact_substr_spans",
    ):
        assert name in specs, name
        assert specs[name].oracle, name
    assert len(specs) == 221  # the frozen cap (r15 ruling)


def test_g711_decode_features_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundeight import (
        G711_ORACLE,
        m_g711_decode_features,
    )

    assert G711_ORACLE
    compare_spark_vs_oracle(
        m_g711_decode_features(spark, sf_dir),
        _con(sf_dir),
        G711_ORACLE,
        "m_g711_decode_features",
    )


def test_flac_decode_features_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundeight import (
        FLAC_ORACLE,
        m_flac_decode_features,
    )

    assert FLAC_ORACLE
    compare_spark_vs_oracle(
        m_flac_decode_features(spark, sf_dir),
        _con(sf_dir),
        FLAC_ORACLE,
        "m_flac_decode_features",
    )


def test_exact_substr_spans_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundeight import (
        EXACT_SUBSTR_ORACLE,
        d_exact_substr_spans,
    )

    assert EXACT_SUBSTR_ORACLE
    compare_spark_vs_oracle(
        d_exact_substr_spans(spark, sf_dir),
        _con(sf_dir),
        EXACT_SUBSTR_ORACLE,
        "d_exact_substr_spans",
    )


def test_exact_substr_spans_nontrivial(spark, sf_dir):
    """The fixture corpus must actually contain cross-document
    duplicate runs — an all-zero result would make the oracle test
    vacuous."""
    from turnover_odata_etl_spark.plans.roundeight import (
        d_exact_substr_spans,
    )
    from pyspark.sql import functions as F

    got = (
        d_exact_substr_spans(spark, sf_dir)
        .agg(F.sum("n_dup_spans"), F.sum("dup_tokens"))
        .first()
    )
    assert got[0] > 0 and got[1] > 0


def test_tiff_decode_features_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundeight import (
        TIFF_ORACLE,
        m_tiff_decode_features,
    )

    assert TIFF_ORACLE
    compare_spark_vs_oracle(
        m_tiff_decode_features(spark, sf_dir),
        _con(sf_dir),
        TIFF_ORACLE,
        "m_tiff_decode_features",
    )


def test_mixed_image_decode_features_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundeight import (
        MIXED_IMAGE_ORACLE,
        m_mixed_image_decode_features,
    )

    assert MIXED_IMAGE_ORACLE
    compare_spark_vs_oracle(
        m_mixed_image_decode_features(spark, sf_dir),
        _con(sf_dir),
        MIXED_IMAGE_ORACLE,
        "m_mixed_image_decode_features",
    )
