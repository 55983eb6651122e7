"""Commit parity of the row-level DML verbs: for delete_where,
update_where, delete_keys and two merge_into clause sets (a
conditional update with insert; a delete without insert) in both
physical modes (copy-on-write rewrite, merge-on-read deletion
vectors), pin the committed manifest's ``operation`` and FULL
``properties`` dict, the rows read back, the no-match no-op, the
re-plan after a lost CAS, and that no call leaves a persisted RDD
behind. One tiny table per case; the remaining merge_into clause sets
are pinned by one sequential test on one table."""

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


COND = "s_ver > t_ver"


def _verb(spark, verb, mode):
    """``(table, target) -> sid`` — ``target`` is a predicate for the
    predicate verbs, a key for delete_keys and a list of source rows
    for merge_into."""
    if verb == "merge_into_upsert_if":
        return lambda t, src: t.merge_into(
            rows3(spark, src), matched_condition=COND, mode=mode
        )
    if verb == "merge_into_delete":
        return lambda t, src: t.merge_into(
            rows3(spark, src), when_matched="delete",
            when_not_matched="ignore", mode=mode,
        )
    if verb == "delete_where":
        return lambda t, p: t.delete_where(p, mode=mode)
    if verb == "update_where":
        return lambda t, p: t.update_where(p, {"v": "v + 1"}, mode=mode)
    return lambda t, k: t.delete_keys(
        spark.createDataFrame([(k,)], "k long"), mode=mode
    )


def _expected(verb, mode, pred, b_hit):
    if verb.startswith("merge_into"):
        upsert = verb == "merge_into_upsert_if"
        props = {
            "merge_into.when_matched": "update" if upsert else "delete",
            "merge_into.when_not_matched": "insert" if upsert else "ignore",
        }
        # the two modes have always ordered the condition differently
        # around the read set; manifests are written unsorted, so the
        # order is pinned too
        if mode == "mor":
            props["merge_into.mode"] = "mor"
            props["read.buckets"] = [b_hit]
        if upsert:
            props["merge_into.matched_condition"] = COND
        props.setdefault("read.buckets", [b_hit])
        return "merge_into", props
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
    "verb",
    [
        "delete_where", "update_where", "delete_keys",
        "merge_into_upsert_if", "merge_into_delete",
    ],
)
def test_dml_verb_manifest_parity_and_no_pinned_cache(
    spark, tmp_path, monkeypatch, verb, mode
):
    tdir = str(tmp_path / "tbl")
    by_bucket = keys_in_distinct_buckets(spark)
    keys = sorted(by_bucket.values())
    b_hit = sorted(by_bucket)[0]
    k_hit = by_bucket[b_hit]
    # three keys the DML does not target, in the targeted key's bucket:
    # one shares its file (so a deletion vector leaves the file live),
    # one is the racing winner's row — its commit overlaps the loser's
    # touched bucket, so the rebase refuses and the verb re-plans on
    # the winner's state — and one is the conditional upsert's insert
    k_also, k_win, k_new = keys_in_bucket(spark, b_hit, 3, exclude=keys)
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
    # (the conditional upsert's source row matches but does not fire,
    # and a matched key is never inserted)
    miss, hit = {
        "delete_keys": (-1, k_hit),
        "merge_into_upsert_if": (
            [(k_hit, 100, 10 * k_hit)],
            [(k_hit, 101, 10 * k_hit + 1), (k_new, 100, 10 * k_new)],
        ),
        "merge_into_delete": ([(-1, 100, 0)], [(k_hit, 100, 10 * k_hit)]),
    }.get(verb, (f"k = {k_hit} AND v + 1 < 0", f"k = {k_hit}"))
    assert call(t, miss) == 1
    assert t.snapshot_ids() == [1]
    assert pinned() == before

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
    if verb.startswith("merge_into"):
        assert list(raw["properties"]) == list(props)
    assert raw["parent"] == 2

    want = {k: 10 * k for k in [*keys, k_win]}
    if verb == "merge_into_upsert_if":
        want[k_new] = 10 * k_new
    if verb in ("update_where", "merge_into_upsert_if"):
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


def test_merge_into_remaining_clause_sets_pin_their_properties(
    spark, tmp_path
):
    """The clause sets the parametrized test leaves out — matched rows
    ignored with inserts, and updates without inserts — in both modes,
    one commit each on one table: operation, FULL properties, rows."""
    by_bucket = keys_in_distinct_buckets(spark)
    bucket = {k: b for b, k in by_bucket.items()}
    k0, k1, k2, k3 = (by_bucket[b] for b in sorted(by_bucket))
    t = mk(spark, str(tmp_path / "tbl"))
    t.append(rows3(spark, [(k0, 100, 0)]))
    want = {k0: (100, 0)}
    # (when_matched, when_not_matched, mode, source, effect): each
    # source matches one live key and names one key the table lacks
    steps = [
        ("ignore", "insert", "cow",
         [(k0, 200, 1), (k1, 100, 1)], {k1: (100, 1)}),
        ("ignore", "insert", "mor",
         [(k1, 200, 2), (k2, 100, 2)], {k2: (100, 2)}),
        ("update", "ignore", "cow",
         [(k0, 101, 3), (k3, 100, 3)], {k0: (101, 3)}),
        ("update", "ignore", "mor",
         [(k1, 101, 4), (k3, 100, 4)], {k1: (101, 4)}),
    ]
    for sid, (wm, wnm, mode, src, effect) in enumerate(steps, start=2):
        got = t.merge_into(
            rows3(spark, src), when_matched=wm, when_not_matched=wnm,
            mode=mode,
        )
        assert got == sid
        props = {
            "merge_into.when_matched": wm,
            "merge_into.when_not_matched": wnm,
        }
        if mode == "mor":
            props["merge_into.mode"] = "mor"
        props["read.buckets"] = sorted(bucket[k] for k, _, _ in src)
        raw = mk(spark, t.table_dir)._manifest_raw(sid)
        assert raw["operation"] == "merge_into"
        assert list(raw["properties"].items()) == list(props.items())
        want.update(effect)
        back = mk(spark, t.table_dir).read().collect()
        assert {r["k"]: (r["ver"], r["v"]) for r in back} == want
