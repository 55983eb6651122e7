"""Commit parity of the row-level DML verbs: for delete_where,
update_where and delete_keys in both physical modes (copy-on-write
rewrite, merge-on-read deletion vectors), pin the committed manifest's
``operation`` and FULL ``properties`` dict, the rows read back, the
no-match no-op, the re-plan after a lost CAS, and that no call leaves
a persisted RDD behind. One tiny table per case."""

from __future__ import annotations

import os

import pytest

from turnover_odata_etl_spark.storage import SnapshotTable

from .test_rebase import (
    inject_race,
    keys_in_bucket,
    keys_in_distinct_buckets,
    mk,
)


def rows3(spark, triples):
    return spark.createDataFrame(list(triples), "k long, ver long, v long")


def _verb(spark, verb, mode):
    """``(table, target) -> sid`` — ``target`` is a predicate for the
    predicate verbs and a key for delete_keys."""
    if verb == "delete_where":
        return lambda t, p: t.delete_where(p, mode=mode)
    if verb == "update_where":
        return lambda t, p: t.update_where(p, {"v": "v + 1"}, mode=mode)
    return lambda t, k: t.delete_keys(
        spark.createDataFrame([(k,)], "k long"), mode=mode
    )


def _expected(verb, mode, pred, b_hit):
    if verb == "delete_where":
        props = {"delete.predicate": pred, "read.predicate": pred}
        if mode == "mor":
            props["delete.mode"] = "mor"
        return "delete", props
    if verb == "update_where":
        props = {
            "update.predicate": pred,
            "update.columns": ["v"],
            "read.predicate": pred,
        }
        if mode == "mor":
            props["update.mode"] = "mor"
        return "update", props
    if mode == "mor":
        return "delete", {"delete.mode": "mor", "read.buckets": [b_hit]}
    return "delete", {"delete.keys.buckets": 1, "read.buckets": [b_hit]}


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize(
    "verb", ["delete_where", "update_where", "delete_keys"]
)
def test_dml_verb_manifest_parity_and_no_pinned_cache(
    spark, tmp_path, monkeypatch, verb, mode
):
    tdir = str(tmp_path / "tbl")
    by_bucket = keys_in_distinct_buckets(spark)
    keys = sorted(by_bucket.values())
    b_hit = sorted(by_bucket)[0]
    k_hit = by_bucket[b_hit]
    # two keys the DML does not target, in the targeted key's bucket:
    # one shares its file (so a deletion vector leaves the file live),
    # the other is the racing winner's row — its commit overlaps the
    # loser's touched bucket, so the rebase refuses and the verb
    # re-plans on the winner's state
    k_also, k_win = keys_in_bucket(spark, b_hit, 2, exclude=keys)
    keys.append(k_also)
    t = mk(spark, tdir)
    t.append(rows3(spark, [(k, 100, 10 * k) for k in keys]))
    winner = mk(spark, tdir)
    call = _verb(spark, verb, mode)
    jsc = spark.sparkContext._jsc

    def pinned():
        return jsc.getPersistentRDDs().size()

    before = pinned()

    # no-match: the candidate read finds no row — no commit, no pin
    miss = -1 if verb == "delete_keys" else f"k = {k_hit} AND v + 1 < 0"
    assert call(t, miss) == 1
    assert t.snapshot_ids() == [1]
    assert pinned() == before

    hit = k_hit if verb == "delete_keys" else f"k = {k_hit}"
    inject_race(
        monkeypatch, t,
        lambda: winner.append(
            rows3(spark, [(k_win, 100, 10 * k_win)])
        ),
    )
    reads = []
    orig_read = SnapshotTable._read_entries
    monkeypatch.setattr(
        SnapshotTable, "_read_entries",
        lambda self, *a, **k: reads.append(1) or orig_read(self, *a, **k),
    )
    sid = call(t, hit)
    monkeypatch.setattr(SnapshotTable, "_read_entries", orig_read)
    assert sid == 3  # the winner took 2; the re-planned commit is 3
    assert len(reads) == 2  # one candidate read per attempt: re-planned
    assert pinned() == before

    raw = mk(spark, tdir)._manifest_raw(sid)
    op, props = _expected(verb, mode, hit, b_hit)
    assert raw["operation"] == op
    assert raw.get("properties") == props
    assert raw["parent"] == 2

    want = {k: 10 * k for k in [*keys, k_win]}
    if verb == "update_where":
        want[k_hit] += 1
    else:
        del want[k_hit]
    got = {r["k"]: r["v"] for r in mk(spark, tdir).read().collect()}
    assert got == want
    if mode == "mor":  # data files untouched; positions in a sidecar
        assert any(
            f.get("dv_rows") for f in mk(spark, tdir).files(sid)
        )
        assert any(
            n.startswith("dv-") for n in os.listdir(
                os.path.join(tdir, "data")
            )
        )
