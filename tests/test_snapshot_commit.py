"""Commit parity of every committing verb other than the row-level DML
verbs (tests/test_snapshot_dml.py covers those): for append, merge,
merge_into, compact, rewrite_zorder, overwrite, rebucket,
rename_column, branch publish and SnapshotGroup.apply_all, pin the
committed manifest's ``operation``, ``parent`` and FULL ``properties``,
the rows read back, whether one injected lost CAS rebases (one staged
write) or re-plans (two), and that no call leaves a persisted RDD
behind. Plus the commit-path invariants every verb now shares: field-id
tracking starts at the first evolution commit however the table was
created, a lost full-anchor claim re-plans, and ``snapshot.py`` has one
staged data write and one claim tail. One tiny table per case."""

from __future__ import annotations

import ast
import os
from dataclasses import dataclass, field
from typing import Callable

import pytest

from turnover_odata_etl_spark.storage import SnapshotTable, snapshot
from turnover_odata_etl_spark.storage.group import SnapshotGroup

from .test_rebase import (
    batch,
    inject_race,
    keys_in_bucket,
    keys_in_distinct_buckets,
    mk,
    spy_stage_jobs,
)


@dataclass
class Case:
    seed: Callable  # (t) -> None: the commits before the race
    winner: Callable  # (w) -> None: the racing commit, second handle
    call: Callable  # (t) -> sid: the verb under test
    op: str
    props: dict | None
    rows: set  # row tuples read back after the call
    staged: int  # loser's staged writes: 1 = rebased, 2 = re-planned
    rebased: bool
    sid: int = 3
    parent: int = 2
    extra: dict = field(default_factory=dict)  # manifest key -> value


def _cases(spark, kA, kA2, kB, kC):
    """Every case seeds bucket A (and C), the winner appends to the
    disjoint bucket B, so a rebase-capable verb rebases and every
    other verb re-plans."""
    b = lambda *pairs: batch(spark, pairs)  # noqa: E731
    win = lambda w: w.append(b((kB, 1)))  # noqa: E731
    seed = lambda t: t.append(b((kA, 1), (kC, 1)))  # noqa: E731
    base = {(kA, 1), (kC, 1), (kB, 1)}
    return {
        "append": Case(
            seed, win, lambda t: t.append(b((kA2, 1)), properties={"p": 1}),
            "append", {"p": 1}, base | {(kA2, 1)}, 1, True,
        ),
        "merge_tombstone": Case(
            seed, win,
            lambda t: t.merge(
                b((kA, 9), (kA2, 1)), tombstone_filter="ver = 9",
                properties={"p": 2},
            ),
            "merge", {"p": 2}, {(kA2, 1), (kC, 1), (kB, 1)}, 1, True,
        ),
        "merge_first_commit": Case(
            lambda t: None, win, lambda t: t.merge(b((kA, 1))),
            "merge", None, {(kA, 1), (kB, 1)}, 2, False, sid=2, parent=1,
        ),
        "merge_empty_properties": Case(
            seed, win,
            lambda t: t.merge(b(), properties={"reflects_base": 7}),
            "merge", {"reflects_base": 7}, base, 0, True,
        ),
        "merge_into_cow": Case(
            seed, win, lambda t: t.merge_into(b((kA, 2), (kA2, 2))),
            "merge_into",
            {
                "merge_into.when_matched": "update",
                "merge_into.when_not_matched": "insert",
                "read.buckets": None,  # filled per run: [bucket A]
            },
            {(kA, 2), (kA2, 2), (kC, 1), (kB, 1)}, 1, True,
        ),
        "merge_into_mor": Case(
            seed, win,
            lambda t: t.merge_into(b((kA, 2), (kA2, 2)), mode="mor"),
            "merge_into",
            {
                "merge_into.when_matched": "update",
                "merge_into.when_not_matched": "insert",
                "merge_into.mode": "mor",
                "read.buckets": None,
            },
            {(kA, 2), (kA2, 2), (kC, 1), (kB, 1)}, 1, True,
        ),
        "compact": Case(
            lambda t: (t.append(b((kA, 1))), t.append(b((kA2, 1)))),
            win, lambda t: t.compact(),
            "compact", None, {(kA, 1), (kA2, 1), (kB, 1)}, 1, True,
            sid=4, parent=3,
        ),
        "compact_dedup_keys": Case(
            lambda t: (t.append(b((kA, 1))), t.append(b((kA, 2)))),
            win, lambda t: t.compact(dedup_keys=True),
            "compact", None, {(kA, 2), (kB, 1)}, 1, True, sid=4, parent=3,
        ),
        "rewrite_zorder": Case(
            seed, win, lambda t: t.rewrite_zorder(["ver"], bits=2),
            "zorder", {"zorder.cols": "ver"}, base, 2, False,
        ),
        "overwrite": Case(
            seed, win,
            lambda t: t.overwrite(b((kC, 5)), properties={"why": "rebuild"}),
            "overwrite", {"why": "rebuild"}, {(kC, 5)}, 2, False,
        ),
        "rebucket": Case(
            seed, win, lambda t: t.rebucket(2),
            "rebucket", None, base, 2, False, extra={"n_buckets": 2},
        ),
        "rename_column": Case(
            lambda t: t.append(
                spark.createDataFrame(
                    [(kA, 1, 0), (kC, 1, 0)], "k long, ver long, v long"
                )
            ),
            win, lambda t: t.rename_column("v", "w"),
            "evolve", {"evolve.op": "rename:v->w"},
            {(kA, 1, 0), (kC, 1, 0), (kB, 1, None)}, 0, False,
            extra={"last_fid": 3},
        ),
    }


CASES = [
    "append", "merge_first_commit", "merge_empty_properties",
    "merge_tombstone", "merge_into_cow", "merge_into_mor", "compact",
    "compact_dedup_keys", "rewrite_zorder", "overwrite", "rebucket",
    "rename_column",
]


def _keys(spark):
    by_bucket = keys_in_distinct_buckets(spark)
    bs = sorted(by_bucket)
    kA, kB, kC = (by_bucket[x] for x in bs[:3])
    (kA2,) = keys_in_bucket(spark, bs[0], 1, exclude=[kA])
    return bs[0], kA, kA2, kB, kC


def _counters(monkeypatch):
    """(staged-write promotions, rebase attempts) — live counters."""
    counts = spy_stage_jobs(monkeypatch)
    rebases = {"n": 0}
    orig = SnapshotTable._rebase_commit

    def counting(self, *a, **k):
        rebases["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(SnapshotTable, "_rebase_commit", counting)
    return counts, rebases


def _rows(t):
    return {tuple(r) for r in t.read().collect()}


def _pinned(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", CASES)
def test_commit_parity_under_one_lost_cas(spark, tmp_path, monkeypatch, name):
    bucket_a, kA, kA2, kB, kC = _keys(spark)
    case = _cases(spark, kA, kA2, kB, kC)[name]
    tdir = str(tmp_path / "tbl")
    t, w = mk(spark, tdir), mk(spark, tdir)
    case.seed(t)
    before = _pinned(spark)
    counts, rebases = _counters(monkeypatch)
    won = {}

    def winner():
        n0 = counts["n"]
        case.winner(w)
        won["staged"] = counts["n"] - n0

    inject_race(monkeypatch, t, winner)
    n0 = counts["n"]
    sid = case.call(t)
    monkeypatch.undo()
    assert won, "the injected race never fired"
    assert counts["n"] - n0 - won["staged"] == case.staged
    assert (rebases["n"] > 0) == case.rebased
    assert sid == case.sid == mk(spark, tdir).current_id()
    assert _pinned(spark) == before

    raw = mk(spark, tdir)._manifest_raw(sid)
    props = case.props
    if props and "read.buckets" in props:
        props = {**props, "read.buckets": [bucket_a]}
    assert raw["operation"] == case.op
    assert raw["parent"] == case.parent
    assert raw.get("properties") == props
    for k, v in case.extra.items():
        assert raw.get(k) == v, k
    assert _rows(mk(spark, tdir)) == case.rows


def test_merge_empty_batch_without_properties_is_a_no_op(spark, tmp_path):
    t = mk(spark, str(tmp_path / "tbl"))
    t.merge(batch(spark, [(1, 1)]))
    before = _pinned(spark)
    assert t.merge(batch(spark, [])) == 1
    assert t.append(batch(spark, [])) == 1
    assert t.snapshot_ids() == [1]
    assert _pinned(spark) == before


def test_publish_claims_once_more_after_a_lost_cas(
    spark, tmp_path, monkeypatch
):
    """Branch publish never rebases its squash: a lost claim
    re-prepares (the optimistic validation re-runs against the new
    head), and a disjoint main winner is absorbed."""
    bucket_a, kA, kA2, kB, kC = _keys(spark)
    tdir = str(tmp_path / "tbl")
    t, w = mk(spark, tdir), mk(spark, tdir)
    t.append(batch(spark, [(kA, 1), (kC, 1)]))
    br = t.create_branch("wap")
    br.append(batch(spark, [(kA2, 1)]))
    before = _pinned(spark)
    counts, rebases = _counters(monkeypatch)
    preps = {"n": 0}
    orig = type(br)._prepare_publish

    def counting(self):
        preps["n"] += 1
        return orig(self)

    monkeypatch.setattr(type(br), "_prepare_publish", counting)
    inject_race(
        monkeypatch, t, lambda: w.append(batch(spark, [(kB, 1)]))
    )
    sid = br.publish()
    monkeypatch.undo()
    assert preps["n"] == 2 and rebases["n"] == 0
    assert counts["n"] == 1  # the winner's staged write only
    assert sid == 3 == mk(spark, tdir).current_id()
    assert _pinned(spark) == before
    raw = mk(spark, tdir)._manifest_raw(sid)
    assert raw["operation"] == "publish"
    assert raw["parent"] == 2
    assert raw.get("properties") == {
        "publish.branch": "wap", "publish.head": 2, "publish.commits": 1,
    }
    assert _rows(mk(spark, tdir)) == {(kA, 1), (kC, 1), (kA2, 1), (kB, 1)}
    assert t.branches() == []


def test_group_apply_all_replans_after_a_lost_txn_claim(
    spark, tmp_path, monkeypatch
):
    """A group transaction's commit point is the txn record, not a
    member manifest: a racing group commit makes every member
    re-prepare (one more staged write each), never rebase."""
    gdir = str(tmp_path / "grp")
    g1 = mk(spark, str(tmp_path / "g1"))
    g2 = mk(spark, str(tmp_path / "g2"))
    grp = SnapshotGroup({"g1": g1, "g2": g2}, gdir)
    grp.append_all({"g1": batch(spark, [(1, 1)]), "g2": batch(spark, [(2, 1)])})
    rival = SnapshotGroup(
        {n: mk(spark, str(tmp_path / n)) for n in ("g1", "g2")}, gdir
    )
    before = _pinned(spark)
    counts, rebases = _counters(monkeypatch)
    state = {"armed": True}
    orig = SnapshotTable._write_manifest_tmp

    def racing(self, manifest):
        if state["armed"]:
            state["armed"] = False
            rival.append_all({"g1": batch(spark, [(3, 1)])})
        return orig(self, manifest)

    monkeypatch.setattr(SnapshotTable, "_write_manifest_tmp", racing)
    out = grp.apply_all(
        {
            "g1": ("overwrite", batch(spark, [(4, 2)])),
            "g2": ("merge", batch(spark, [(2, 2)])),
        },
        properties={"ivf": "v2"},
    )
    monkeypatch.undo()
    # first prepare (2) + the rival's append (1) + the re-prepare (2)
    assert counts["n"] == 5 and rebases["n"] == 0
    assert out == {"g1": 3, "g2": 2}
    assert _pinned(spark) == before
    r1 = mk(spark, str(tmp_path / "g1"))._manifest_raw(3)
    r2 = mk(spark, str(tmp_path / "g2"))._manifest_raw(2)
    assert (r1["operation"], r1["parent"]) == ("overwrite", 2)
    assert (r2["operation"], r2["parent"]) == ("merge", 1)
    assert r1.get("properties") == r2.get("properties") == {"ivf": "v2"}
    assert _rows(mk(spark, str(tmp_path / "g1"))) == {(4, 2)}
    assert _rows(mk(spark, str(tmp_path / "g2"))) == {(2, 2)}


def _fid_state(t):
    raw = t._manifest_raw(t.current_id())
    st = t._schema_of(raw)
    return raw.get("last_fid"), [
        (f.name, (f.metadata or {}).get("fid")) for f in st.fields
    ]


def test_fid_tracking_starts_at_first_evolution_however_created(
    spark, tmp_path
):
    """An empty first merge and a non-empty first append leave the
    same (untracked) fid state, and the first evolution commit
    upgrades both the same way."""
    empty = mk(spark, str(tmp_path / "empty"))
    empty.merge(batch(spark, []))
    full = mk(spark, str(tmp_path / "full"))
    full.append(batch(spark, [(1, 1)]))
    assert _fid_state(empty) == _fid_state(full)
    assert _fid_state(full) == (None, [("k", None), ("ver", None)])
    empty.rename_column("ver", "version")
    full.rename_column("ver", "version")
    assert _fid_state(empty) == _fid_state(full)
    assert _fid_state(full) == (2, [("k", 1), ("version", 2)])


@pytest.mark.parametrize("verb", ["compact", "delete_where_mor"])
def test_lost_full_anchor_claim_replans(spark, tmp_path, monkeypatch, verb):
    """A lost claim for a full-anchor id re-plans (one more staged
    write or candidate read), for the rebase-capable maintenance and
    deletion-vector commits exactly as for append and merge."""
    monkeypatch.setattr(snapshot, "FULL_MANIFEST_EVERY", 3)
    _, kA, kA2, kB, _ = _keys(spark)
    tdir = str(tmp_path / "tbl")
    t, w = mk(spark, tdir), mk(spark, tdir)
    t.append(batch(spark, [(kA, 1)]))
    t.append(batch(spark, [(kA2, 1)]))
    counts, rebases = _counters(monkeypatch)
    reads = {"n": 0}
    orig = SnapshotTable._read_entries

    def counting(self, *a, **k):
        reads["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(SnapshotTable, "_read_entries", counting)
    inject_race(
        monkeypatch, t, lambda: w.append(batch(spark, [(kB, 1)]))
    )
    if verb == "compact":
        sid = t.compact()
    else:
        sid = t.delete_where(f"k = {kA}", mode="mor")
    monkeypatch.undo()
    assert rebases["n"] == 0
    assert reads["n"] == 2  # one candidate read per attempt: re-planned
    assert sid == 4 == mk(spark, tdir).current_id()
    raw = mk(spark, tdir)._manifest_raw(4)
    assert raw["parent"] == 3 and not raw.get("full")
    want = {(kA, 1), (kA2, 1), (kB, 1)}
    if verb != "compact":
        want.discard((kA, 1))
    assert _rows(mk(spark, tdir)) == want


def _calls_by_function(path, match):
    """{enclosing function name} of every call node ``match`` accepts."""
    tree = ast.parse(open(path).read())
    found: list[str] = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and match(node):
            found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_one_staged_write_and_one_claim_tail():
    def bucket_write(c):
        return (
            isinstance(c.func, ast.Attribute)
            and c.func.attr == "partitionBy"
            and [getattr(a, "value", None) for a in c.args] == ["__bucket"]
        )

    def claim(c):
        return isinstance(c.func, ast.Attribute) and c.func.attr == "_claim"

    src = snapshot.__file__
    assert _calls_by_function(src, bucket_write) == ["_stage_rewrite"]
    assert sorted(set(_calls_by_function(src, claim))) == [
        "_claim_or_rebase", "_rebase_commit",
    ]
    group = os.path.join(os.path.dirname(src), "group.py")
    assert _calls_by_function(group, claim) == []
