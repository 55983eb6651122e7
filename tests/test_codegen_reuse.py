"""Generated-class reuse: a repeated plan shape compiles no new class.

Spark compiles each whole-stage source with Janino and caches the class
by its source text. A storage verb that runs again on a batch of the
same shape must find every class it needs in that cache: the session
keeps enough entries for the engine's working set
(``session.get_spark``), and no plan inlines a per-call name or value
into its generated code (a ``limit``'s counter name comes from a
JVM-wide sequence, so ``merge_into``'s duplicate-key probe is one
aggregate with no limit)."""

from __future__ import annotations

import pytest

from turnover_odata_etl_spark.storage import SnapshotTable


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (driver and local executors)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _table(spark, path):
    t = SnapshotTable(
        spark, str(path), key_cols=["k"], order_col="ver", n_buckets=4
    )
    t.merge(_batch(spark, range(0, 200), "v0", 1))
    return t


def _batch(spark, keys, v, ver):
    return spark.createDataFrame(
        [(k, f"{v}-{k}", ver) for k in keys], "k long, v string, ver long"
    )


def test_session_sizes_the_generated_class_cache(spark):
    # static conf: only a value set before the JVM's code generator
    # starts takes effect, so it must come from get_spark itself
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_second_merge_into_compiles_nothing(spark, tmp_path, mode):
    t = _table(spark, tmp_path / "t")
    # 10 matched keys and 10 new keys per batch, on other keys each
    # time. The first call leaves a mor table carrying deletion
    # vectors, so its reads take a new shape once: the call after it
    # is the first of the steady state, and the one after that must
    # find every class it needs
    compiles = []
    for i, lo in enumerate((0, 40, 80)):
        before_id, c0 = t.current_id(), _compiles(spark)
        t.merge_into(
            _batch(spark, [*range(lo, lo + 10), *range(200 + lo, 210 + lo)],
                   f"m{i}", 2 + i),
            mode=mode,
        )
        compiles.append(_compiles(spark) - c0)
        assert t.current_id() == before_id + 1
    assert compiles[-1] == 0, compiles
    assert t.read().count() == 230


def test_merge_into_duplicate_probe_still_refuses(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(_batch(spark, [7, 7, 8], "d", 2))
    # an empty source has no duplicates: a no-op, not an error
    assert t.merge_into(_batch(spark, [], "e", 2)) == t.current_id()


def test_second_changes_read_compiles_nothing(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    ids = [t.current_id()]
    for i, lo in enumerate((0, 40, 80)):
        t.merge_into(
            _batch(spark, [*range(lo, lo + 10), *range(500 + lo, 510 + lo)],
                   f"c{i}", 2 + i)
        )
        ids.append(t.current_id())
    first = t.changes(ids[1], ids[2]).collect()
    c0 = _compiles(spark)
    second = t.changes(ids[2], ids[3]).collect()
    assert _compiles(spark) - c0 == 0
    assert len(first) == len(second) == 20
