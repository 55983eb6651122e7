"""Snapshot-isolated commits: time travel, crash safety, CAS races.

The protocol claims (storage/snapshot.py docstring) each get a test
that breaks if the mechanism is faked: time-travel reads after later
commits, byte-identical pre-merge reads after an injected crash,
roll-forward after losing the pointer write, a real two-writer
interleaving on the manifest CAS, and GC that keeps the current
snapshot intact.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from turnover_odata_etl_spark.storage import SnapshotTable


def rows(df):
    return sorted(
        (r["k"], r["v"], r["ver"]) for r in df.select("k", "v", "ver").collect()
    )


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "snaptable")


def make_table(spark, tdir, n_buckets=4):
    return SnapshotTable(
        spark, tdir, key_cols=["k"], order_col="ver", n_buckets=n_buckets
    )


def batch(spark, triples):
    return spark.createDataFrame(
        [(k, v, ver) for k, v, ver in triples], "k long, v string, ver long"
    )


def test_merge_and_time_travel(spark, tdir):
    t = make_table(spark, tdir)
    s1 = t.merge(batch(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    s2 = t.merge(batch(spark, [(2, "B", 2), (4, "d", 2)]))
    assert (s1, s2) == (1, 2)
    assert t.current_id() == 2
    assert rows(t.read()) == [
        (1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "d", 2),
    ]
    # Time travel AFTER the second commit: snapshot 1 is bit-stable.
    assert rows(t.read(snapshot_id=1)) == [
        (1, "a", 1), (2, "b", 1), (3, "c", 1),
    ]
    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert hist[1]["parent"] == 1


def test_merge_prunes_untouched_buckets(spark, tdir):
    """A commit must carry untouched buckets forward BY REFERENCE —
    same file paths in the new manifest, no rewrite."""
    t = make_table(spark, tdir, n_buckets=8)
    t.merge(batch(spark, [(i, "x", 1) for i in range(40)]))
    before = {f["path"]: f for f in t._manifest(1)["files"]}
    t.merge(batch(spark, [(7, "y", 2)]))
    after = {f["path"]: f for f in t._manifest(2)["files"]}
    from pyspark.sql import functions as F

    touched_bucket = (
        batch(spark, [(7, "y", 2)])
        .select(F.pmod(F.hash("k"), F.lit(8)).alias("b"))
        .first()["b"]
    )
    carried = {p for p, f in before.items() if f["bucket"] != touched_bucket}
    assert carried <= set(after)  # untouched files identical paths
    assert all(after[p] == before[p] for p in carried)
    # and the touched bucket's old file is gone from the new manifest
    assert not any(
        p in after for p, f in before.items() if f["bucket"] == touched_bucket
    )


def test_tombstone_cdc_apply(spark, tdir):
    t = make_table(spark, tdir)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.merge(
        batch(spark, [(1, "DELETE", 2), (3, "c", 2)]),
        tombstone_filter="v = 'DELETE'",
    )
    assert rows(t.read()) == [(2, "b", 1), (3, "c", 2)]
    # resurrection: a later upsert brings the key back
    t.merge(batch(spark, [(1, "a2", 3)]))
    assert rows(t.read()) == [(1, "a2", 3), (2, "b", 1), (3, "c", 2)]
    # and history still shows the deleted state at snapshot 2
    assert rows(t.read(snapshot_id=2)) == [(2, "b", 1), (3, "c", 2)]


def test_crash_before_manifest_claim_leaves_old_snapshot(
    spark, tdir, monkeypatch
):
    """Writer dies after staging data files but BEFORE the manifest
    claim: the table must read byte-identical to the pre-merge state,
    and a later merge must succeed normally."""
    t = make_table(spark, tdir)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    want = rows(t.read())
    want_files = t._manifest(1)["files"]

    def boom(*a, **kw):
        raise OSError("injected crash before commit point")

    # _claim is the shared commit point of BOTH commit forms (the
    # legacy full path and the round-10 delta path merges take).
    monkeypatch.setattr(t, "_claim", boom)
    with pytest.raises(OSError, match="injected"):
        t.merge(batch(spark, [(2, "B", 2)]))
    monkeypatch.undo()

    t2 = make_table(spark, tdir)  # fresh handle, post-crash recovery
    assert t2.current_id() == 1
    assert rows(t2.read()) == want
    assert t2._manifest(1)["files"] == want_files  # manifest untouched
    # recovery: the same merge goes through afterwards
    t2.merge(batch(spark, [(2, "B", 2)]))
    assert rows(t2.read()) == [(1, "a", 1), (2, "B", 2)]


def test_crash_after_claim_rolls_forward_without_pointer(
    spark, tdir, monkeypatch
):
    """Writer dies AFTER the manifest claim but before the pointer
    write: the commit is past the commit point, so readers roll
    forward to it (pointer is a hint, not the source of truth)."""
    t = make_table(spark, tdir)
    t.merge(batch(spark, [(1, "a", 1)]))

    def boom(sid):
        raise OSError("injected crash after commit point")

    monkeypatch.setattr(t, "_write_pointer", boom)
    with pytest.raises(OSError, match="injected"):
        t.merge(batch(spark, [(1, "A", 2)]))
    monkeypatch.undo()

    t2 = make_table(spark, tdir)
    assert t2.current_id() == 2  # rolled forward past the stale hint
    assert rows(t2.read()) == [(1, "A", 2)]
    with open(os.path.join(tdir, "_current")) as fh:
        assert fh.read().strip() == "1"  # the hint really was stale


def test_concurrent_writers_cas_retry(spark, tdir, monkeypatch):
    """A real two-writer interleaving: writer A computes its merge
    against snapshot 1, writer B commits snapshot 2 first, A's CAS on
    manifest-2 must FAIL and A's retry must land on top of B's state
    (B's rows survive)."""
    t_a = make_table(spark, tdir)
    t_b = make_table(spark, tdir)
    t_a.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))

    real_claim = t_a._claim
    state = {"raced": False}

    def racing_claim(manifest, new_id):
        if not state["raced"]:
            state["raced"] = True
            # B wins the race while A is between base read and claim.
            t_b.merge(batch(spark, [(3, "from_b", 2)]))
        return real_claim(manifest, new_id)

    monkeypatch.setattr(t_a, "_claim", racing_claim)
    sid = t_a.merge(batch(spark, [(2, "from_a", 2)]))
    assert sid == 3  # first attempt lost the CAS on 2, retry claimed 3
    assert rows(t_a.read()) == [
        (1, "a", 1), (2, "from_a", 2), (3, "from_b", 2),
    ]


def test_commit_conflict_surfaces_on_stale_base(spark, tdir):
    """A commit claimed against a stale base must raise
    CommitConflict (never silently drop the winner's files)."""
    from turnover_odata_etl_spark.storage.snapshot import CommitConflict

    t = make_table(spark, tdir)
    t.merge(batch(spark, [(1, "a", 1)]))
    t.merge(batch(spark, [(1, "A", 2)]))
    with pytest.raises(CommitConflict):
        t._claim_or_rebase(
            t._build_delta(
                batch(spark, [(9, "z", 9)]).schema.json(),
                t._by_bucket(1), {}, "merge", base_id=1,
            )
        )


def test_expire_snapshots_gc(spark, tdir):
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.merge(batch(spark, [(1, "A", 2)]))
    t.merge(batch(spark, [(2, "B", 3)]))
    removed = t.expire_snapshots(keep_last=1)
    assert removed  # something was actually collected
    for rel in removed:
        assert not os.path.exists(os.path.join(tdir, rel))
    assert t.snapshot_ids() == [3]
    assert rows(t.read()) == [(1, "A", 2), (2, "B", 3)]
    with pytest.raises(FileNotFoundError):
        t.read(snapshot_id=1)


def test_empty_first_commit_is_schema_stable(spark, tdir):
    t = make_table(spark, tdir)
    sid = t.merge(batch(spark, []))
    assert sid == 1
    df = t.read()
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v", "ver"]


def test_concurrent_writers_stress(spark, tdir):
    """Real contention: 4 threads x 3 merges each race on one table
    with no injected interleaving. Every commit must land (12 + 1
    seed snapshots, contiguous ids), and the final state must equal
    the keep-latest over ALL batches — lost updates impossible."""
    import threading

    t0 = make_table(spark, tdir)
    t0.merge(batch(spark, [(0, "seed", 0)]))

    n_threads, n_merges = 4, 3
    all_rows = []
    errors = []

    def writer(wid):
        t = make_table(spark, tdir)
        try:
            for j in range(n_merges):
                rows_ = [
                    (wid * 10 + j, f"w{wid}m{j}", 100 + j),
                    (99, f"contended-w{wid}m{j}", wid * 100 + j),
                ]
                t.merge(batch(spark, rows_), max_retries=30)
        except Exception as e:  # noqa: BLE001
            errors.append((wid, repr(e)))

    for wid in range(n_threads):
        all_rows.extend(
            [
                (wid * 10 + j, f"w{wid}m{j}", 100 + j)
                for j in range(n_merges)
            ]
            + [
                (99, f"contended-w{wid}m{j}", wid * 100 + j)
                for j in range(n_merges)
            ]
        )
    threads = [
        threading.Thread(target=writer, args=(wid,))
        for wid in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors

    t = make_table(spark, tdir)
    ids = t.snapshot_ids()
    assert ids == list(range(1, n_threads * n_merges + 2))

    # keep-latest over seed + all batches, ties impossible by
    # construction except key 99 where max ver wins
    want = {}
    for k, v, ver in [(0, "seed", 0)] + all_rows:
        if k not in want or ver > want[k][1]:
            want[k] = (v, ver)
    got = {r["k"]: (r["v"], r["ver"]) for r in t.read().collect()}
    assert got == want


def test_read_keys_prunes_files_and_matches_full_read(spark, tdir):
    """Manifest-stat pruning: a point lookup must open ONLY the
    requested keys' bucket files and return exactly the full read
    filtered to those keys."""
    t = make_table(spark, tdir, n_buckets=8)
    t.merge(batch(spark, [(i, f"v{i}", 1) for i in range(64)]))
    t.merge(batch(spark, [(7, "V7", 2), (13, "V13", 2)]))

    keys = [7, 13, 40]
    got = rows(t.read_keys(keys))
    want = [r for r in rows(t.read()) if r[0] in keys]
    assert got == want

    # pruning actually happened: requested buckets < total buckets
    from pyspark.sql import functions as F

    kdf = spark.createDataFrame([(k,) for k in keys], "k long")
    n_req = (
        kdf.select(F.pmod(F.hash("k"), F.lit(8)).alias("b"))
        .distinct()
        .count()
    )
    m = t._manifest(t.current_id())
    all_buckets = {f["bucket"] for f in m["files"]}
    assert n_req < len(all_buckets)

    # keys hashing to an absent bucket → schema-stable empty frame
    empty = t.read_keys([10**9])
    assert empty.count() == 0 or rows(empty) == [
        r for r in rows(t.read()) if r[0] == 10**9
    ]
    # multi-column key tables refuse (partial-key pruning is a lie)
    t2 = SnapshotTable(
        spark, tdir + "2", key_cols=["a", "b"], order_col="v"
    )
    with pytest.raises(ValueError, match="single-column"):
        t2.read_keys([1])


def test_changes_net_semantics(spark, tdir):
    """changes(n, m) is the NET state diff: a key updated twice
    appears once with its final value; an insert-then-delete key
    never appears; unchanged keys in REWRITTEN buckets drop out via
    the null-safe struct comparison."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    t.merge(batch(spark, [(2, "B", 2), (4, "d", 2), (5, "e", 2)]))
    t.merge(
        batch(spark, [(2, "BB", 3), (5, "DEL", 3)]),
        tombstone_filter="v = 'DEL'",
    )
    got = sorted(
        (r["k"], r["v"], r["ver"], r["_change_type"])
        for r in t.changes(1, 3).collect()
    )
    # key 2: two updates net to one row at final value; key 5:
    # insert-then-delete nets to nothing; keys 1/3 share buckets with
    # changed keys (n_buckets=2) yet must not appear.
    assert got == [
        (2, "BB", 3, "update"),
        (4, "d", 2, "insert"),
    ]


def test_changes_delete_preimage_and_identity(spark, tdir):
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.merge(
        batch(spark, [(2, "gone", 2)]), tombstone_filter="v = 'gone'"
    )
    got = [(r["k"], r["v"], r["ver"], r["_change_type"])
           for r in t.changes(1, 2).collect()]
    assert got == [(2, "b", 1, "delete")]  # PRE-image, not tombstone
    # identity diff: empty, schema-stable with _change_type appended
    same = t.changes(2, 2)
    assert same.count() == 0
    assert same.columns == ["k", "v", "ver", "_change_type"]


def test_changed_buckets_manifest_diff():
    """The pruning metadata: identical per-bucket file lists prove
    byte-equality (files are immutable + carried by reference)."""
    f = lambda p, b: {"path": p, "bucket": b, "rows": 1}
    a = [f("data/x1", 0), f("data/x2", 1), f("data/x3", 2)]
    b = [f("data/x1", 0), f("data/y2", 1)]  # b1 rewritten, b2 dropped
    assert SnapshotTable._changed_buckets(a, b) == {1, 2}
    assert SnapshotTable._changed_buckets(a, a) == set()
    # multi-file buckets compare as sets of paths, order-insensitive
    c = [f("data/x2", 1), f("data/x1", 1)]
    d = [f("data/x1", 1), f("data/x2", 1)]
    assert SnapshotTable._changed_buckets(c, d) == set()


def test_changes_reads_only_changed_buckets(spark, tdir, monkeypatch):
    """The CDC read must OPEN only changed buckets' files — the
    O(changed data) claim, pinned by intercepting the parquet reads."""
    t = make_table(spark, tdir, n_buckets=8)
    t.merge(batch(spark, [(i, "x", 1) for i in range(40)]))
    t.merge(batch(spark, [(7, "y", 2)]))
    m1, m2 = t._manifest(1), t._manifest(2)
    changed = SnapshotTable._changed_buckets(m1["files"], m2["files"])
    assert len(changed) == 1  # one key -> one bucket rewritten
    opened = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    diff = t.changes(1, 2).collect()
    assert [(r["k"], r["_change_type"]) for r in diff] == [(7, "update")]
    assert opened  # the spy actually saw the reads
    opened_buckets = {
        f["bucket"]
        for m in (m1, m2)
        for f in m["files"]
        if any(p.endswith(f["path"]) for p in opened)
    }
    assert opened_buckets == changed


def test_changes_after_append_scans_only_new_files(spark, tdir, monkeypatch):
    """An append of new keys only adds files: its CDC read opens just
    those files and joins nothing, and reports each new row as an
    insert in both output forms."""
    t = make_table(spark, tdir, n_buckets=4)
    t.merge(batch(spark, [(i, "x", 1) for i in range(40)]))
    t.append(batch(spark, [(i, f"n{i}", 2) for i in range(100, 120)]))
    m1, m2 = t._manifest(1), t._manifest(2)
    old = {f["path"] for f in m1["files"]}
    added = {f["path"] for f in m2["files"]} - old
    opened = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    want = [(i, f"n{i}", 2, "insert") for i in range(100, 120)]
    for pre in (False, True):
        df = t.changes(1, 2, include_preimages=pre)
        assert "Join" not in df._jdf.queryExecution().optimizedPlan().toString()
        assert sorted(
            (r["k"], r["v"], r["ver"], r["_change_type"]) for r in df.collect()
        ) == want
    assert {os.path.relpath(p, tdir) for p in opened} == added


def test_changes_after_append_of_existing_key_joins(spark, tdir):
    """An appended file whose key range overlaps an old file's is not
    proven new, so its bucket takes the join: an appended duplicate
    of a live key still reads as an update."""
    t = make_table(spark, tdir, n_buckets=1)
    t.merge(batch(spark, [(1, "a", 1), (5, "b", 1)]))
    t.append(batch(spark, [(3, "c", 2), (9, "d", 2)]))  # overlaps [1, 5]...
    t.append(batch(spark, [(5, "B", 3)]))  # ...and a live key
    got = sorted(
        (r["k"], r["v"], r["_change_type"]) for r in t.changes(1, 3).collect()
    )
    assert got == [(3, "c", "insert"), (5, "B", "update"), (9, "d", "insert")]


def test_only_appended_needs_proof():
    """The append path's proof on manifest entries alone: old entries
    unchanged, new entries key-disjoint by footer stats, old entries
    free of NULL keys; anything unproven takes the join."""
    t = SimpleNamespace(key_cols=["k"])
    t._file_test = lambda bounds: SnapshotTable._file_test(t, bounds)

    def e(lo=None, hi=None, nulls=0, dv=None):
        f = {"bucket": 0, "rows": 1}
        if lo is not None:
            f["stats"] = {"k": [lo, hi]}
        if nulls is not None:
            f["nulls"] = {"k": nulls}
        if dv is not None:
            f["dv"] = {"n": 1, "sidecars": [dv]}
        return f

    only = SnapshotTable._only_appended
    old = {"p1": e(0, 9)}
    assert only(t, old, {**old, "p2": e(10, 19)})
    assert only(t, {}, {"p2": e()})  # a bucket that had no files
    assert not only(t, old, {**old, "p2": e(5, 19)})  # ranges overlap
    assert not only(t, old, {**old, "p2": e()})  # new entry: no stats
    assert not only(t, {"p1": e()}, {"p1": e(), "p2": e(10, 19)})
    assert not only(t, {"p1": e(0, 9, nulls=1)},
                    {"p1": e(0, 9, nulls=1), "p2": e(10, 19)})
    assert not only(t, {"p1": e(0, 9, nulls=None)},
                    {"p1": e(0, 9, nulls=None), "p2": e(10, 19)})
    assert not only(t, old, {"p1": e(0, 9, dv="s1"), "p2": e(10, 19)})
    assert not only(t, old, {"p2": e(10, 19)})  # p1 was rewritten away
    # strings: a prefix-truncated upper bound (None = unbounded) never
    # proves disjointness above it
    s_old = {"p1": e("a", None)}
    assert not only(t, s_old, {**s_old, "p2": e("b", "c")})
    assert only(t, {"p1": e("a", "b")}, {"p1": e("a", "b"), "p2": e("c", "d")})


def test_changes_preimage_form(spark, tdir):
    """Delta-CDF convention: updates emit pre+post rows; inserts and
    deletes stay single-row; column set matches the net form."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.merge(
        batch(spark, [(1, "A", 2), (2, "DEL", 2), (3, "c", 2)]),
        tombstone_filter="v = 'DEL'",
    )
    got = sorted(
        (r["k"], r["v"], r["ver"], r["_change_type"])
        for r in t.changes(1, 2, include_preimages=True).collect()
    )
    assert got == [  # sorted() order: 'A' < 'a'
        (1, "A", 2, "update_postimage"),
        (1, "a", 1, "update_preimage"),
        (2, "b", 1, "delete"),
        (3, "c", 2, "insert"),
    ]


def test_rebucket_preserves_content_and_history(spark, tdir):
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(i, f"v{i}", 1) for i in range(30)]))
    before = rows(t.read())
    sid = t.rebucket(16)
    assert sid == 2
    m = t._manifest(2)
    assert m["operation"] == "rebucket" and m["n_buckets"] == 16
    assert rows(t.read()) == before
    # time travel to the pre-rebucket snapshot still reads (old layout)
    assert rows(t.read(snapshot_id=1)) == before
    # per-snapshot layout: old manifest keeps its own bucket count
    assert t._manifest(1)["n_buckets"] == 2
    buckets_now = {f["bucket"] for f in m["files"]}
    assert len(buckets_now) > 2  # data actually spread over new layout


def test_read_keys_prunes_with_target_snapshot_layout(spark, tdir):
    """After a rebucket, a time-travel read_keys must prune with the
    OLD snapshot's bucket count — pruning with the handle's current
    count would open the wrong files and silently drop rows."""
    t = make_table(spark, tdir, n_buckets=4)
    t.merge(batch(spark, [(i, f"v{i}", 1) for i in range(40)]))
    t.rebucket(16)
    keys = [3, 17, 29]
    want = [(k, f"v{k}", 1) for k in keys]
    assert rows(t.read_keys(keys)) == want  # new layout
    assert rows(t.read_keys(keys, snapshot_id=1)) == want  # old layout


def test_merge_adopts_manifest_layout(spark, tdir):
    """A handle constructed with a stale bucket count must follow the
    table's on-disk layout, never mix two layouts in one snapshot."""
    t = make_table(spark, tdir, n_buckets=4)
    t.merge(batch(spark, [(i, "x", 1) for i in range(20)]))
    t.rebucket(12)
    stale = make_table(spark, tdir, n_buckets=4)  # wrong constructor value
    stale.merge(batch(spark, [(5, "y", 2), (99, "z", 2)]))
    m = stale._manifest(stale.current_id())
    assert m["n_buckets"] == 12
    assert rows(stale.read_keys([5, 99])) == [(5, "y", 2), (99, "z", 2)]


def test_changes_across_rebucket_boundary(spark, tdir):
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.rebucket(8)
    t.merge(batch(spark, [(2, "B", 2), (3, "c", 2)]))
    got = sorted(
        (r["k"], r["v"], r["_change_type"])
        for r in t.changes(1, 3).collect()
    )
    assert got == [(2, "B", "update"), (3, "c", "insert")]


def test_additive_schema_evolution(spark, tdir):
    """A batch with a NEW column widens the table: old rows read
    typed NULL, time travel to pre-evolution snapshots keeps the
    narrower schema, and an old-writer batch (missing the new
    column) merges as NULLs."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    wide = spark.createDataFrame(
        [(2, "B", 2, "extra2")], "k long, v string, ver long, note string"
    )
    t.merge(wide)
    got = sorted(
        (r["k"], r["v"], r["ver"], r["note"]) for r in t.read().collect()
    )
    assert got == [(1, "a", 1, None), (2, "B", 2, "extra2")]
    # manifest schema is the WIDENED one; snapshot 1 keeps the old
    assert [f["name"] for f in __import__("json").loads(
        t._manifest(2)["schema"])["fields"]] == ["k", "v", "ver", "note"]
    assert t.read(snapshot_id=1).columns == ["k", "v", "ver"]
    # an old writer (no `note`) still merges; its rows read NULL note
    t.merge(batch(spark, [(3, "c", 3)]))
    got3 = sorted(
        (r["k"], r["note"]) for r in t.read().collect()
    )
    assert got3 == [(1, None), (2, "extra2"), (3, None)]
    # pruned lookup also reads the aligned schema
    assert sorted(
        (r["k"], r["note"]) for r in t.read_keys([1, 2]).collect()
    ) == [(1, None), (2, "extra2")]


def test_changes_across_schema_evolution(spark, tdir):
    """CDF across an evolution boundary: both sides align to the TO
    schema, pre-evolution pre-images carry NULL for the new column."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    wide = spark.createDataFrame(
        [(2, "B", 2, "n2")], "k long, v string, ver long, note string"
    )
    t.merge(wide)
    got = sorted(
        (r["k"], r["v"], r["note"], r["_change_type"])
        for r in t.changes(1, 2, include_preimages=True).collect()
    )
    assert got == [
        (2, "B", "n2", "update_postimage"),
        (2, "b", None, "update_preimage"),
    ]


def test_merge_rejects_missing_key_columns(spark, tdir):
    t = make_table(spark, tdir)
    t.merge(batch(spark, [(1, "a", 1)]))
    bad = spark.createDataFrame([("x",)], "v string")
    with pytest.raises(ValueError, match="key/order"):
        t.merge(bad)


def test_read_range_prunes_by_footer_stats(spark, tdir, monkeypatch):
    """Range reads must open only files whose [order_min, order_max]
    overlaps the window; missing stats degrade to must-read, and the
    values equal the unpruned filter either way."""
    from pyspark.sql import functions as F

    t = make_table(spark, tdir, n_buckets=4)
    # Each commit rewrites every bucket it touches MERGED with prior
    # rows, so disjoint per-FILE ranges require bucket-disjoint key
    # groups: route each version band to its own bucket.
    kb = {
        r["k"]: r["b"]
        for r in batch(spark, [(i, "", 0) for i in range(200)])
        .select("k", F.pmod(F.hash("k"), F.lit(4)).alias("b"))
        .collect()
    }
    by_bucket = {b: [k for k, kb_ in kb.items() if kb_ == b] for b in range(4)}
    t.merge(batch(spark, [(k, "x", i) for i, k in
                          enumerate(by_bucket[0][:15])]))
    t.merge(batch(spark, [(k, "y", 100 + i) for i, k in
                          enumerate(by_bucket[1][:15])]))
    t.merge(batch(spark, [(k, "z", 200 + i) for i, k in
                          enumerate(by_bucket[2][:15])]))
    m = t._manifest(t.current_id())
    assert all("order_min" in f for f in m["files"])

    opened = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    got = rows(t.read_range(100, 140))
    monkeypatch.undo()
    assert got == sorted(
        (k, "y", 100 + i) for i, k in enumerate(by_bucket[1][:15])
    )
    # only files overlapping [100, 140] were opened
    touched = [
        f for f in m["files"]
        if any(p.endswith(f["path"]) for p in opened)
    ]
    assert touched and all(
        not (f["order_max"] < 100 or f["order_min"] > 140) for f in touched
    )
    assert len(touched) < len(m["files"])
    # equivalence with the unpruned filter
    full = t.read().filter("ver between 100 and 140")
    assert got == rows(full)


def test_read_range_without_stats_reads_everything(spark, tdir):
    """A manifest predating the stats upgrade (entries without
    order_min) must still answer range reads correctly."""
    import json as _json

    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(i, "x", i) for i in range(10)]))
    mp = os.path.join(tdir, "manifests", "manifest-1.json")
    # rewrite as a v1-style FULL manifest (still a supported on-disk
    # form) with the stats stripped
    m = dict(t._manifest(1))
    m.pop("buckets", None)
    m.pop("full", None)
    m["files"] = [
        {k: v for k, v in f.items() if k not in ("order_min", "order_max")}
        for f in m["files"]
    ]
    _json.dump(m, open(mp, "w"))
    t2 = make_table(spark, tdir, n_buckets=2)  # fresh handle: no cache
    assert rows(t2.read_range(3, 5)) == [(3, "x", 3), (4, "x", 4),
                                         (5, "x", 5)]


def test_read_range_on_a_long_shared_prefix_string_order_column(
    spark, tdir
):
    """A string order column whose values share a prefix longer than
    the 16-code-point stats truncation: read_range prunes on the
    truncated, truncation-aware ``stats`` and must return exactly the
    rows of the unpruned filter, for windows inside, across, at a
    point of and outside the written values."""
    t = SnapshotTable(
        spark, tdir, key_cols=["k"], order_col="ts", n_buckets=2
    )
    prefix = "2026-10-20T01:16:35.000"  # 23 code points

    def ts(i):
        return f"{prefix}{i:04d}"

    for start in range(0, 40, 10):
        t.append(spark.createDataFrame(
            [(k, ts(k)) for k in range(start, start + 10)],
            "k long, ts string",
        ))
    files = t._manifest(t.current_id())["files"]
    assert all(f["stats"]["ts"][0] == prefix[:16] for f in files)
    for lo, hi in [
        (ts(5), ts(23)), (ts(31), ts(31)), (prefix, prefix + "~"),
        (ts(100), ts(200)), ("2026", prefix),
    ]:
        want = t.read().filter(F.col("ts").between(lo, hi))
        got = t.read_range(lo, hi)
        assert sorted(got.collect()) == sorted(want.collect()), (lo, hi)
    assert t.read_range(ts(5), ts(23)).count() == 19


def test_old_writer_into_empty_bucket_does_not_narrow_schema(spark, tdir):
    """An old-writer batch (missing the evolved column) whose keys all
    land in buckets with NO existing files must still record the
    WIDENED schema (base ∪ batch): before the round-8 fix _merge_once
    took the batch's own schema on the replaced==[] path, narrowing
    the manifest and making _aligned_read silently drop the newer
    column from carried-forward files."""
    import json

    from pyspark.sql import functions as F

    t = make_table(spark, tdir, n_buckets=4)
    wide = spark.createDataFrame(
        [(1, "a", 1, "n1")], "k long, v string, ver long, note string"
    )
    t.merge(wide)
    used = {
        r["b"]
        for r in t._with_bucket(t.read())
        .select(F.col("__bucket").alias("b"))
        .collect()
    }
    cand = spark.createDataFrame([(k,) for k in range(2, 50)], "k long")
    buckets = {
        r["k"]: r["b"]
        for r in cand.select(
            "k", F.pmod(F.hash("k"), F.lit(4)).alias("b")
        ).collect()
    }
    k2 = next(k for k, b in buckets.items() if b not in used)
    t.merge(batch(spark, [(k2, "c", 2)]))  # old writer, empty bucket
    manifest_cols = [
        f["name"]
        for f in json.loads(t._manifest(t.current_id())["schema"])["fields"]
    ]
    assert manifest_cols == ["k", "v", "ver", "note"]
    got = sorted((r["k"], r["note"]) for r in t.read().collect())
    assert got == [(1, "n1"), (k2, None)]


def test_order_watermark(spark, tdir):
    """order_watermark = max(order col) of the CURRENT state, served
    from manifest footer stats (no data read on the happy path);
    None on an uncommitted or empty table."""
    t = make_table(spark, tdir, n_buckets=2)
    assert t.order_watermark() is None
    t.merge(batch(spark, [(1, "a", 5), (2, "b", 3)]))
    assert t.order_watermark() == 5
    t.merge(batch(spark, [(3, "c", 9)]))
    assert t.order_watermark() == 9
    # stats-stripped manifest degrades to the column-pruned data read
    sid = t.current_id()
    m = t._manifest(sid)
    for f in m["files"]:
        f.pop("order_max", None)
        f.pop("order_min", None)
    import json
    import os

    with open(
        os.path.join(t._manifest_dir, f"manifest-{sid}.json"), "w"
    ) as fh:
        json.dump(m, fh)
    t2 = make_table(spark, tdir, n_buckets=2)
    assert t2.order_watermark() == 9


def test_commit_properties_and_latest_property(spark, tdir):
    """merge(properties=...) records a JSON-safe dict on the commit's
    manifest (Iceberg snapshot-summary shape); latest_property walks
    newest→oldest so a commit WITHOUT the key falls through to the
    last writer that stamped it."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1)]), properties={"reflects_base": 7})
    assert t.latest_property("reflects_base") == 7
    t.merge(batch(spark, [(2, "b", 2)]))  # no properties
    assert t.latest_property("reflects_base") == 7
    t.merge(batch(spark, [(3, "c", 3)]), properties={"reflects_base": 9})
    assert t.latest_property("reflects_base") == 9
    assert t.latest_property("nope") is None


def test_read_where_prunes_by_column_stats(spark, tdir, monkeypatch):
    """Generic data skipping (round 8): read_where must open only
    files whose per-column footer stats overlap the window, for a
    NON-order column; values equal the unpruned filter; files without
    stats for the column degrade to must-read."""
    from pyspark.sql import functions as F

    t = make_table(spark, tdir, n_buckets=4)
    kb = {
        r["k"]: r["b"]
        for r in batch(spark, [(i, "", 0) for i in range(200)])
        .select("k", F.pmod(F.hash("k"), F.lit(4)).alias("b"))
        .collect()
    }
    by_bucket = {b: [k for k, kb_ in kb.items() if kb_ == b] for b in range(4)}

    def vbatch(ks, v0):
        # schema (k, v string, ver long, val long): val is the
        # NON-order column the prune targets
        return spark.createDataFrame(
            [(k, "s", 1, v0 + i) for i, k in enumerate(ks)],
            "k long, v string, ver long, val long",
        )

    t.merge(vbatch(by_bucket[0][:15], 0))
    t.merge(vbatch(by_bucket[1][:15], 100))
    t.merge(vbatch(by_bucket[2][:15], 200))
    m = t._manifest(t.current_id())
    assert all("val" in (f.get("stats") or {}) for f in m["files"])
    # string columns carry truncation-aware stats since round 12
    # (VERDICT r11 item 3) — here the values are short, so exact
    assert all(
        (f.get("stats") or {}).get("v") == ["s", "s"] for f in m["files"]
    )

    opened = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    got = sorted(
        (r["k"], r["val"]) for r in t.read_where("val", 100, 140).collect()
    )
    monkeypatch.undo()
    assert got == sorted(
        (k, 100 + i) for i, k in enumerate(by_bucket[1][:15])
    )
    touched = [
        f for f in m["files"]
        if any(p.endswith(f["path"]) for p in opened)
    ]
    assert touched and all(
        not (f["stats"]["val"][1] < 100 or f["stats"]["val"][0] > 140)
        for f in touched
    )
    assert len(touched) < len(m["files"])
    # stats-stripped manifest degrades to reading (and filtering) all
    for f in m["files"]:
        f.pop("stats", None)
    import json as _json

    with open(
        os.path.join(t._manifest_dir, f"manifest-{t.current_id()}.json"),
        "w",
    ) as fh:
        _json.dump(m, fh)
    t2 = make_table(spark, tdir, n_buckets=4)
    got2 = sorted(
        (r["k"], r["val"]) for r in t2.read_where("val", 100, 140).collect()
    )
    assert got2 == got


def test_empty_merge_with_properties_commits_metadata_only(spark, tdir):
    """An empty batch on an existing table: WITHOUT properties it
    stays a silent no-op (no new snapshot, history clean); WITH
    properties it must produce a metadata-only commit — all base
    files carried forward, zero data written — so an IVM view's
    reflects_base watermark advances on no-op batches instead of
    forcing every later fold to walk changes() across a growing span
    (ADVICE r08). latest_property's one-manifest fast path depends on
    the newest commit carrying the stamp."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 2)]))
    base = t.current_id()
    before = rows(t.read())
    m_before = t._manifest(base)["files"]

    empty = batch(spark, [])
    # no properties: silent no-op, same snapshot
    assert t.merge(empty) == base
    assert t.current_id() == base

    # properties: metadata-only commit, watermark advances
    new = t.merge(empty, properties={"reflects_base": 42})
    assert new == base + 1
    assert t.latest_property("reflects_base") == 42
    m_after = t._manifest(new)
    assert m_after["files"] == m_before  # carried verbatim, no write
    assert rows(t.read()) == before
    # time travel to the pre-stamp snapshot still works
    assert rows(t.read(base)) == before


def test_nan_column_stats_are_skipped_not_serialized(spark, tdir):
    """A float column containing NaN yields NaN footer min/max, which
    json.dump would emit as the non-RFC token `NaN` — readable by
    Python but broken for any external manifest consumer (ADVICE
    r08). The manifest must simply omit that column's stats (absent
    stats degrade to must-read), the manifest file must stay strictly
    RFC-parseable, and read_where on the column must still return
    exact results via the post-prune predicate."""
    import json as _json
    import math as _math

    t = SnapshotTable(
        spark, tdir, key_cols=["k"], order_col="ver", n_buckets=2
    )
    df = spark.createDataFrame(
        [(1, float("nan"), 1), (2, 0.5, 2), (3, 2.5, 3)],
        "k long, x double, ver long",
    )
    t.merge(df)
    raw = open(
        os.path.join(t._manifest_dir, f"manifest-{t.current_id()}.json")
    ).read()
    m = _json.loads(raw, parse_constant=lambda s: pytest.fail(
        f"non-RFC JSON constant {s!r} in manifest"
    ))
    entries = m.get("files") or [
        f for fs in (m.get("buckets") or {}).values() for f in fs
    ]
    assert entries
    for f in entries:
        for col, (lo, hi) in (f.get("stats") or {}).items():
            for v in (lo, hi):
                assert not (isinstance(v, float) and not _math.isfinite(v))
    got = sorted(
        r["k"] for r in t.read_where("x", 0.0, 1.0).collect()
    )
    assert got == [2]


def test_delta_manifests_are_o_touched_buckets(spark, tdir):
    """Round 9: a commit's on-disk manifest must list ONLY the buckets
    whose file lists changed — commit metadata is O(touched buckets),
    never O(table files). A wide table (every bucket populated) then a
    single-key merge: the delta manifest carries exactly that key's
    bucket; resolution still returns the complete file list and the
    read equals the expected state."""
    import json as _json

    t = make_table(spark, tdir, n_buckets=8)
    t.merge(batch(spark, [(k, "v", 1) for k in range(64)]))  # all buckets
    m1 = t._manifest(1)
    assert len({f["bucket"] for f in m1["files"]}) == 8
    t.merge(batch(spark, [(7, "UPD", 2)]))
    raw2 = _json.load(
        open(os.path.join(t._manifest_dir, "manifest-2.json"))
    )
    assert "files" not in raw2 and not raw2.get("full")
    assert len(raw2["buckets"]) == 1  # exactly the touched bucket
    m2 = t._manifest(2)
    assert len(m2["files"]) >= len(m1["files"])  # resolution complete
    got = {(r["k"], r["v"]) for r in t.read().select("k", "v").collect()}
    assert got == {(k, "UPD" if k == 7 else "v") for k in range(64)}


def test_delta_chain_resolves_through_many_commits(spark, tdir):
    """A long chain of single-bucket deltas (crossing the periodic
    full-manifest boundary) must resolve every snapshot to its exact
    state — time travel included — from a FRESH handle (no warm
    cache)."""
    from turnover_odata_etl_spark.storage.snapshot import (
        FULL_MANIFEST_EVERY,
    )

    t = make_table(spark, tdir, n_buckets=4)
    n = FULL_MANIFEST_EVERY + 5
    for ver in range(1, n + 1):
        t.merge(batch(spark, [(ver % 3, f"v{ver}", ver)]))
    t2 = make_table(spark, tdir, n_buckets=4)
    for sid in (1, 2, FULL_MANIFEST_EVERY, FULL_MANIFEST_EVERY + 1, n):
        state = {}
        for ver in range(1, sid + 1):
            state[ver % 3] = (f"v{ver}", ver)
        got = {
            r["k"]: (r["v"], r["ver"]) for r in t2.read(sid).collect()
        }
        assert got == state, f"snapshot {sid}"


def test_expire_materializes_full_manifest_at_floor(spark, tdir):
    """expire_snapshots across a delta chain: the oldest KEPT snapshot
    becomes self-contained (its parents are gone), every kept snapshot
    still reads correctly from a fresh handle, and dropped snapshots'
    exclusive files are deleted."""
    import json as _json

    t = make_table(spark, tdir, n_buckets=4)
    for ver in range(1, 7):
        t.merge(batch(spark, [(ver % 3, f"v{ver}", ver)]))
    expect5 = {ver % 3: (f"v{ver}", ver) for ver in range(1, 6)}
    expect6 = {ver % 3: (f"v{ver}", ver) for ver in range(1, 7)}
    t.expire_snapshots(keep_last=2)  # keep 5, 6
    raw5 = _json.load(
        open(os.path.join(t._manifest_dir, "manifest-5.json"))
    )
    assert raw5.get("full") or "files" in raw5  # self-contained floor
    t2 = make_table(spark, tdir, n_buckets=4)
    assert t2.snapshot_ids() == [5, 6]
    got5 = {r["k"]: (r["v"], r["ver"]) for r in t2.read(5).collect()}
    got6 = {r["k"]: (r["v"], r["ver"]) for r in t2.read(6).collect()}
    assert got5 == expect5 and got6 == expect6


def test_rebucket_writes_full_manifest(spark, tdir):
    """Bucket numbers mean different things across a rebucket — the
    rebucket commit must be a FULL manifest, never a delta against the
    old layout."""
    import json as _json

    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(k, "v", 1) for k in range(16)]))
    before = rows(t.read())
    sid = t.rebucket(8)
    raw = _json.load(
        open(os.path.join(t._manifest_dir, f"manifest-{sid}.json"))
    )
    assert raw.get("full") or "files" in raw
    assert rows(make_table(spark, tdir, n_buckets=8).read()) == before


def test_crash_mid_expire_is_recoverable(spark, tdir, monkeypatch):
    """expire_snapshots unlinks dropped manifests DESCENDING (children
    before parents): a crash mid-loop leaves only orphaned ANCESTORS,
    so every surviving snapshot still resolves, history() works, and a
    re-run expire completes the GC. (Ascending order would strand
    surviving delta manifests whose parents are gone — an
    unrecoverable chain break.)"""
    import turnover_odata_etl_spark.storage.snapshot as snap_mod

    t = make_table(spark, tdir, n_buckets=4)
    for ver in range(1, 8):
        t.merge(batch(spark, [(ver % 3, f"v{ver}", ver)]))
    want = rows(t.read())

    real_unlink = os.unlink
    state = {"manifest_unlinks": 0}

    def crashing_unlink(path):
        if "manifest-" in os.path.basename(path):
            state["manifest_unlinks"] += 1
            if state["manifest_unlinks"] == 3:
                raise OSError("injected crash mid-expire")
        return real_unlink(path)

    monkeypatch.setattr(snap_mod.os, "unlink", crashing_unlink)
    with pytest.raises(OSError, match="injected"):
        t.expire_snapshots(keep_last=2)
    monkeypatch.undo()

    t2 = make_table(spark, tdir, n_buckets=4)  # cold handle, post-crash
    assert rows(t2.read()) == want
    assert t2.history()  # every surviving manifest resolves
    removed = t2.expire_snapshots(keep_last=2)  # GC completes
    assert t2.snapshot_ids() == [6, 7]
    assert rows(t2.read()) == want
    for rel in removed:
        assert not os.path.exists(os.path.join(tdir, rel))


def test_v1_manifest_table_upgrades_in_place(spark, tdir):
    """Back-compat: a table whose current manifest is the PRE-round-9
    v1 form (flat `files` list, no `buckets`) must open, read, and
    accept v2 delta commits on top — the mixed chain (v2 delta whose
    parent is v1-full) resolves, time travel reaches the v1 snapshot,
    and CDC diffs across the format boundary."""
    import json as _json

    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 2)]))
    # Rewrite snapshot 1 on disk in the v1 format (resolved view,
    # bucket keys stripped) — exactly what a pre-round-9 writer left.
    m = dict(t._manifest(1))
    m.pop("buckets", None)
    m.pop("full", None)
    m.pop("format", None)
    with open(
        os.path.join(t._manifest_dir, "manifest-1.json"), "w"
    ) as fh:
        _json.dump(m, fh)

    t2 = make_table(spark, tdir, n_buckets=2)  # fresh handle
    assert rows(t2.read()) == [(1, "a", 1), (2, "b", 2)]
    raw1 = _json.load(
        open(os.path.join(t2._manifest_dir, "manifest-1.json"))
    )
    assert "files" in raw1 and "buckets" not in raw1  # really v1
    t2.merge(batch(spark, [(1, "A", 3)]))  # v2 delta on a v1 parent
    raw2 = _json.load(
        open(os.path.join(t2._manifest_dir, "manifest-2.json"))
    )
    assert "buckets" in raw2 and "files" not in raw2  # really v2 delta
    t3 = make_table(spark, tdir, n_buckets=2)  # cold resolution
    assert rows(t3.read()) == [(1, "A", 3), (2, "b", 2)]
    assert rows(t3.read(1)) == [(1, "a", 1), (2, "b", 2)]  # time travel
    ch = {
        (r["k"], r["_change_type"]) for r in t3.changes(1, 2).collect()
    }
    assert ch == {(1, "update")}


# ------------------------------------------------------- bucket_cols layout


def _prefix_table(spark, tdir, n_buckets=8):
    """Keyed on (g, k) — many k per g — physically bucketed on g only:
    the layout-vs-key split the incremental-LSH band index uses."""
    return SnapshotTable(
        spark, tdir, key_cols=["g", "k"], order_col="ver",
        n_buckets=n_buckets, bucket_cols=["g"],
    )


def _gk_batch(spark, triples):
    return spark.createDataFrame(
        [(g, k, ver) for g, k, ver in triples],
        "g long, k long, ver long",
    )


def test_bucket_cols_must_be_key_subset(spark, tdir):
    with pytest.raises(ValueError, match="subset"):
        SnapshotTable(
            spark, tdir, key_cols=["k"], order_col="ver",
            bucket_cols=["other"],
        )


def test_bucket_cols_merge_semantics_and_load(spark, tdir):
    """Keep-latest still dedups on the FULL key while the layout
    hashes only the prefix; a fresh load() restores bucket_cols from
    the manifest (stale-handle adoption included)."""
    t = _prefix_table(spark, tdir)
    t.merge(_gk_batch(spark, [(1, 10, 1), (1, 11, 1), (2, 10, 1)]))
    t.merge(_gk_batch(spark, [(1, 10, 2)]))  # update ONE (g,k) pair
    got = sorted(
        (r["g"], r["k"], r["ver"]) for r in t.read().collect()
    )
    assert got == [(1, 10, 2), (1, 11, 1), (2, 10, 1)]

    t2 = SnapshotTable.load(spark, tdir)
    assert t2.bucket_cols == ["g"]
    assert t2.key_cols == ["g", "k"]

    # A handle constructed WITHOUT bucket_cols adopts the manifest's
    # on first merge (same rule as n_buckets adoption).
    t3 = SnapshotTable(
        spark, tdir, key_cols=["g", "k"], order_col="ver", n_buckets=8
    )
    t3.merge(_gk_batch(spark, [(2, 10, 3)]))
    assert t3.bucket_cols == ["g"]
    got = sorted(
        (r["g"], r["k"], r["ver"]) for r in t3.read().collect()
    )
    assert got == [(1, 10, 2), (1, 11, 1), (2, 10, 3)]


def test_read_matching_prunes_input_files(spark, tdir):
    """The parquet-read spy (VERDICT r09 item 2): a read_matching
    probe carrying FEW bucket-column values must physically open only
    the files of the buckets those values hash into — asserted through
    the scan's own inputFiles(), not the rows it returns."""
    t = _prefix_table(spark, tdir, n_buckets=8)
    # 64 groups spread over all 8 physical buckets
    t.merge(_gk_batch(spark, [(g, k, 1) for g in range(64) for k in (0, 1)]))
    m = t._manifest(t.current_id())
    assert {f["bucket"] for f in m["files"]} == set(range(8))
    all_files = {f["path"].split("/")[-1] for f in m["files"]}

    probe = spark.createDataFrame([(7,)], "g long")
    pruned = t.read_matching(probe)
    opened = {p.split("/")[-1] for p in pruned.inputFiles()}
    # exactly the files of g=7's bucket — a strict subset of the table
    from pyspark.sql import functions as F

    b7 = spark.range(1).select(
        F.pmod(F.hash(F.lit(7).cast("long")), F.lit(8)).alias("b")
    ).first()["b"]
    want = {
        f["path"].split("/")[-1] for f in m["files"] if f["bucket"] == b7
    }
    assert opened == want
    assert opened < all_files  # strictly pruned
    # and the opened subset contains every g=7 row (correctness: the
    # prune may over-read co-hashed groups, never under-read)
    got = sorted(
        (r["g"], r["k"]) for r in pruned.filter("g = 7").collect()
    )
    assert got == [(7, 0), (7, 1)]


def test_read_matching_full_probe_reads_everything(spark, tdir):
    """A probe covering every bucket degrades to a full read — pruning
    can only skip, never lose."""
    t = _prefix_table(spark, tdir, n_buckets=4)
    t.merge(_gk_batch(spark, [(g, 0, 1) for g in range(32)]))
    probe = spark.createDataFrame([(g,) for g in range(32)], "g long")
    got = sorted(r["g"] for r in t.read_matching(probe).collect())
    assert got == list(range(32))


def test_reader_racing_expire_retries_from_materialized_floor(
    spark, tdir, monkeypatch
):
    """ADVICE r09: a reader that saw the floor's OLD delta form before
    an expire_snapshots run must not die on the unlinked ancestors —
    _manifest retries from the re-read raw floor, which expire
    materialized as a self-contained full manifest BEFORE unlinking
    anything."""
    t = make_table(spark, tdir, n_buckets=2)
    for ver in range(1, 6):
        t.merge(batch(spark, [(ver, f"v{ver}", ver)]))
    reader = make_table(spark, tdir, n_buckets=2)  # separate handle
    stale_raw5 = dict(reader._manifest_raw(5))
    assert "buckets" in stale_raw5 and not stale_raw5.get("full")

    t.expire_snapshots(keep_last=1)  # floor=5 now full; 1-4 unlinked
    assert t.snapshot_ids() == [5]

    real_raw = reader._manifest_raw
    state = {"first": True}

    def stale_once(sid):
        if sid == 5 and state["first"]:
            state["first"] = False
            return stale_raw5  # the pre-expire delta view
        return real_raw(sid)

    monkeypatch.setattr(reader, "_manifest_raw", stale_once)
    got = rows(reader.read(5))  # walks stale delta -> FNF -> retries
    assert got == [(v, f"v{v}", v) for v in range(1, 6)]
    assert not state["first"]  # the stale path really was taken


# ---------------------------------------------------------------- append


def test_append_accumulates_rows_and_time_travels(spark, tdir):
    t = make_table(spark, tdir)
    s1 = t.append(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    s2 = t.append(batch(spark, [(3, "c", 2)]))
    assert (s1, s2) == (1, 2)
    assert rows(t.read()) == [(1, "a", 1), (2, "b", 1), (3, "c", 2)]
    assert rows(t.read(snapshot_id=1)) == [(1, "a", 1), (2, "b", 1)]
    assert [h["operation"] for h in t.history()] == ["append", "append"]


def test_append_is_merge_on_read_duplicates_survive(spark, tdir):
    """The documented contract: append NEVER collapses keys — a
    re-appended key yields BOTH rows on read (at-least-once replay
    semantics), and compact(dedup_keys=True) is the explicit fold."""
    t = make_table(spark, tdir)
    t.append(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.append(batch(spark, [(1, "A", 2)]))
    assert rows(t.read()) == [(1, "A", 2), (1, "a", 1), (2, "b", 1)]
    t.compact(dedup_keys=True)
    assert rows(t.read()) == [(1, "A", 2), (2, "b", 1)]
    assert t.history()[-1]["operation"] == "compact"


def test_append_never_reads_base_data(spark, tdir, monkeypatch):
    """The scale claim: an append's cost is O(batch) — it must not
    open ANY existing data file (merge's read-back is exactly what it
    exists to avoid). _aligned_read is the only file-read path."""
    t = make_table(spark, tdir)
    for ver in range(1, 4):
        t.append(batch(spark, [(ver, f"v{ver}", ver)]))

    def boom(*a, **kw):
        raise AssertionError("append read base data files")

    monkeypatch.setattr(t, "_aligned_read", boom)
    t.append(batch(spark, [(99, "z", 9)]))
    monkeypatch.undo()
    assert (99, "z", 9) in rows(t.read())


def test_append_empty_batch_leaves_history_clean(spark, tdir):
    t = make_table(spark, tdir)
    s1 = t.append(batch(spark, [(1, "a", 1)]))
    assert t.append(batch(spark, [])) == s1
    assert [h["snapshot_id"] for h in t.history()] == [1]
    # ... but a properties-carrying empty append commits metadata-only
    s2 = t.append(batch(spark, []), properties={"wm": 7})
    assert s2 == 2
    assert t.latest_property("wm") == 7
    assert rows(t.read()) == [(1, "a", 1)]


def test_append_additive_schema_evolution(spark, tdir):
    t = make_table(spark, tdir)
    t.append(batch(spark, [(1, "a", 1)]))
    widened = spark.createDataFrame(
        [(2, "b", 2, "extra")], "k long, v string, ver long, note string"
    )
    t.append(widened)
    got = {
        (r["k"], r["v"], r["ver"], r["note"])
        for r in t.read().collect()
    }
    assert got == {(1, "a", 1, None), (2, "b", 2, "extra")}


def test_append_interleaves_with_merge_and_adopts_layout(spark, tdir):
    """Appends and merges share the CAS and the layout-adoption rule:
    after a rebucket, a stale-handle append lands in the NEW layout
    (read_keys pruning keeps working)."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.rebucket(8)
    stale = make_table(spark, tdir, n_buckets=2)  # constructed stale
    stale.append(batch(spark, [(3, "c", 2)]))
    assert stale.n_buckets == 8
    assert rows(t.read()) == [(1, "a", 1), (2, "b", 1), (3, "c", 2)]
    assert rows(t.read_keys([3])) == [(3, "c", 2)]


def test_append_crash_before_claim_leaves_old_snapshot(
    spark, tdir, monkeypatch
):
    t = make_table(spark, tdir)
    t.append(batch(spark, [(1, "a", 1)]))

    def boom(*a, **kw):
        raise OSError("injected crash before commit point")

    monkeypatch.setattr(t, "_claim", boom)
    with pytest.raises(OSError, match="injected"):
        t.append(batch(spark, [(2, "b", 2)]))
    monkeypatch.undo()
    assert t.current_id() == 1
    assert rows(t.read()) == [(1, "a", 1)]


# ---------------------------------------------------------------- compact


def test_compact_binpacks_small_files_row_preserving(spark, tdir):
    """Five appends leave ≥5 files in a hot bucket; compact folds each
    qualifying bucket to ONE file with the row multiset EXACTLY
    preserved (duplicates included — row-preserving is the default)."""
    t = make_table(spark, tdir, n_buckets=2)
    expected = []
    for ver in range(1, 6):
        t.append(batch(spark, [(1, f"x{ver}", ver), (2, f"y{ver}", ver)]))
        expected += [(1, f"x{ver}", ver), (2, f"y{ver}", ver)]
    pre = t._by_bucket(t.current_id())
    assert any(len(fs) >= 5 for fs in pre.values())
    pre_id = t.current_id()
    t.compact(min_files=2)
    post = t._by_bucket(t.current_id())
    assert all(len(fs) <= 1 for fs in post.values())
    assert rows(t.read()) == sorted(expected)
    # time travel: the pre-compaction snapshot still reads its files
    assert rows(t.read(snapshot_id=pre_id)) == sorted(expected)


def test_compact_noop_below_threshold_returns_current(spark, tdir):
    t = make_table(spark, tdir)
    s1 = t.append(batch(spark, [(1, "a", 1)]))
    assert t.compact(min_files=2) == s1
    assert [h["snapshot_id"] for h in t.history()] == [1]


def test_compact_carries_untouched_buckets_by_reference(spark, tdir):
    """Only qualifying buckets are rewritten: the single-file bucket's
    entry (path included) is IDENTICAL before and after."""
    t = make_table(spark, tdir, n_buckets=32)
    t.append(batch(spark, [(i, f"v{i}", 1) for i in range(20)]))
    t.append(batch(spark, [(0, "w", 2)]))  # only key 0's bucket gains a file
    pre = t._by_bucket(t.current_id())
    multi = [b for b, fs in pre.items() if len(fs) > 1]
    single = [b for b, fs in pre.items() if len(fs) == 1]
    assert multi and single
    t.compact(min_files=2)
    post = t._by_bucket(t.current_id())
    for b in single:
        assert post[b] == pre[b]  # same entries, same paths
    for b in multi:
        assert len(post[b]) == 1 and post[b] != pre[b]


def test_compact_buckets_checks_the_layout_it_commits_on(spark, tdir):
    """``compact(buckets=...)`` checks the bucket list against the
    on-disk layout, not the handle's: after another handle rebuckets
    2 -> 4, a handle loaded at 2 buckets compacts bucket 3, and after a
    rebucket back to 2 a handle built at 4 refuses bucket 3 instead of
    compacting nothing."""
    t = make_table(spark, tdir, n_buckets=2)
    t.append(batch(spark, [(i, f"v{i}", 1) for i in range(20)]))
    expected = rows(t.read())
    other = make_table(spark, tdir)
    other.rebucket(4)
    pre = other._by_bucket(other.current_id())
    assert pre.get(3)
    sid = t.compact(buckets=[3])
    assert sid == 3 and t._manifest_raw(sid)["operation"] == "compact"
    post = t._by_bucket(sid)
    assert len(post[3]) == 1 and post[3] != pre[3]
    assert {b: fs for b, fs in post.items() if b != 3} == {
        b: fs for b, fs in pre.items() if b != 3
    }
    assert rows(t.read()) == expected
    stale = make_table(spark, tdir, n_buckets=4)
    other.rebucket(2)
    with pytest.raises(
        ValueError, match=r"compact: unknown buckets \[3\] \(layout has 2\)"
    ):
        stale.compact(buckets=[3])
    assert stale.current_id() == 4


def test_compact_restores_read_where_pruning(spark, tdir):
    """Compaction recomputes per-file stats: a read_where range probe
    on the compacted table still prunes (footer stats survived the
    rewrite)."""
    t = make_table(spark, tdir, n_buckets=1)
    for ver in (1, 2, 3):
        t.append(batch(spark, [(ver * 10, f"v{ver}", ver * 100)]))
    t.compact(min_files=2)
    m = t._manifest(t.current_id())
    assert all("order_min" in f for f in m["files"])
    assert rows(t.read_where("ver", 150, 250)) == [(20, "v2", 200)]


def test_append_heavy_index_folds_after_expire(spark, tdir):
    """The full append-table lifecycle: appends → dedup compact →
    expire; GC reclaims every file the compaction replaced, and the
    table still reads keep-latest-correct."""
    t = make_table(spark, tdir, n_buckets=2)
    for ver in range(1, 5):
        t.append(batch(spark, [(ver % 2, f"v{ver}", ver)]))
    t.compact(dedup_keys=True)
    removed = t.expire_snapshots(keep_last=1)
    assert removed  # the replaced small files really were reclaimed
    for p in removed:
        assert not os.path.exists(os.path.join(t.table_dir, p))
    assert rows(t.read()) == [(0, "v4", 4), (1, "v3", 3)]


def test_read_matching_casts_probe_types_to_layout(spark, tdir):
    """Spark's hash is TYPE-sensitive (hash(7 as int) != hash(7 as
    long)): an int-typed probe against a long-keyed layout must still
    prune to the RIGHT buckets — read_matching casts the probe's
    bucket columns to the table schema's types before hashing."""
    t = make_table(spark, tdir, n_buckets=16)
    t.merge(batch(spark, [(k, f"v{k}", 1) for k in range(40)]))
    probe = spark.createDataFrame([(7,), (23,)], "k int")  # INT probe
    got = sorted(
        r["k"] for r in t.read_matching(probe).filter(
            "k in (7, 23)"
        ).collect()
    )
    assert got == [7, 23]


def test_rebucket_preserves_bucket_cols_split_on_stale_handle(spark, tdir):
    """A stale handle (default bucket_cols = full key) rebucketing a
    (g)-laid-out table must ADOPT the manifest's bucket columns — not
    silently rewrite the layout split and break read_matching."""
    t = SnapshotTable(
        spark, tdir, key_cols=["g", "k"], order_col="ver",
        n_buckets=4, bucket_cols=["g"],
    )
    df = spark.createDataFrame(
        [(i % 3, i, 1) for i in range(30)], "g long, k long, ver long"
    )
    t.merge(df.withColumn("v", F.lit("x")).select("g", "k", "v", "ver"))
    stale = SnapshotTable(  # no bucket_cols: defaults to (g, k)
        spark, tdir, key_cols=["g", "k"], order_col="ver", n_buckets=4
    )
    stale.rebucket(8)
    assert stale.bucket_cols == ["g"]
    m = t._raw_meta(t.current_id())
    assert m["bucket_cols"] == ["g"] and m["n_buckets"] == 8
    # the layout still serves a g-only probe: all of g=1's rows found
    probe = spark.createDataFrame([(1,)], "g long")
    got = sorted(r["k"] for r in t.read_matching(probe).filter("g = 1").collect())
    assert got == [i for i in range(30) if i % 3 == 1]


def test_expire_invalidates_all_metadata_caches(spark, tdir):
    """After GC, a dropped snapshot must be GONE through every cached
    view (_mcache/_bcache/_metacache) — not a phantom with dangling
    file paths."""
    t = make_table(spark, tdir)
    for ver in (1, 2, 3):
        t.merge(batch(spark, [(ver, f"v{ver}", ver)]))
    # warm all three caches for snapshot 1
    t._manifest(1), t._by_bucket(1), t._raw_meta(1)
    t.expire_snapshots(keep_last=1)
    for probe in (t._manifest, t._by_bucket, t._raw_meta):
        with pytest.raises(FileNotFoundError):
            probe(1)


# ------------------------------------------------------- format-3 segments


@pytest.fixture()
def seg_mode(monkeypatch):
    """Force EVERY bucket list through a segment file (format 3) —
    fixture-scale tables would otherwise stay inline and never
    exercise the segment read/write/GC paths."""
    from turnover_odata_etl_spark.storage import snapshot as S

    monkeypatch.setattr(S, "SEG_INLINE_MAX", 0)


def _raw(t, sid):
    return t._manifest_raw(sid)


def test_segment_lifecycle_end_to_end(spark, tdir, seg_mode):
    """merge + append + compact + reads + time travel, all through
    segment locators."""
    t = make_table(spark, tdir, n_buckets=2)
    t.merge(batch(spark, [(1, "a", 1), (2, "b", 1)]))
    t.append(batch(spark, [(3, "c", 2)]))
    t.merge(batch(spark, [(2, "B", 3)]))
    raw = _raw(t, 3)
    assert all(
        isinstance(loc, dict) and "seg" in loc
        for loc in raw["buckets"].values()
    ), "delta locators must be segment refs in seg mode"
    assert rows(t.read()) == [(1, "a", 1), (2, "B", 3), (3, "c", 2)]
    assert rows(t.read(snapshot_id=1)) == [(1, "a", 1), (2, "b", 1)]
    assert rows(t.read_keys([2])) == [(2, "B", 3)]
    t.compact(dedup_keys=True)
    assert rows(t.read()) == [(1, "a", 1), (2, "B", 3), (3, "c", 2)]
    # cold handle resolves the same state from disk alone
    cold = make_table(spark, tdir, n_buckets=2)
    assert rows(cold.read()) == [(1, "a", 1), (2, "B", 3), (3, "c", 2)]


def test_anchor_carries_untouched_segments_by_reference(
    spark, tdir, seg_mode
):
    """THE format-3 claim: the periodic full anchor re-serializes only
    buckets touched since their segment was written — an untouched
    bucket's locator in the anchor is the SAME {"seg": ...} dict its
    delta wrote (zero bytes rewritten)."""
    from turnover_odata_etl_spark.storage.snapshot import (
        FULL_MANIFEST_EVERY,
    )

    t = make_table(spark, tdir, n_buckets=4)
    # keys chosen per-bucket: key k lands in bucket hash(k) % 4 — use
    # enough distinct keys that every bucket fills, then stop touching
    # bucket assignments of the early keys.
    t.merge(batch(spark, [(k, f"v{k}", 1) for k in range(16)]))
    sid = 1
    while (sid + 1) % FULL_MANIFEST_EVERY != 0:
        sid = t.merge(batch(spark, [(99, "w", sid + 1)]))
    pre_anchor = dict(t._by_bucket(sid))
    anchor_sid = t.merge(batch(spark, [(99, "w", sid + 1)]))
    assert anchor_sid % FULL_MANIFEST_EVERY == 0
    raw = _raw(t, anchor_sid)
    assert raw.get("full") and raw["format"] == 3
    touched = {
        r["b"]
        for r in spark.createDataFrame([(99,)], "k long")
        .selectExpr("pmod(hash(k), 4) as b")
        .collect()
    }
    carried = 0
    for b_str, loc in raw["buckets"].items():
        if int(b_str) in touched:
            continue
        assert loc == pre_anchor[int(b_str)], "untouched ref rewritten"
        carried += 1
    assert carried >= 2  # the claim is about the carried majority


def test_expire_sweeps_dead_segments_keeps_live(spark, tdir, seg_mode):
    t = make_table(spark, tdir, n_buckets=2)
    for ver in range(1, 7):
        t.merge(batch(spark, [(ver % 3, f"v{ver}", ver)]))
    mdir = os.path.join(tdir, "manifests")
    pre_segs = {n for n in os.listdir(mdir) if n.startswith("seg-")}
    assert pre_segs
    t.expire_snapshots(keep_last=2)
    post_segs = {n for n in os.listdir(mdir) if n.startswith("seg-")}
    # every surviving locator's segment exists...
    for sid in t.snapshot_ids():
        for loc in t._by_bucket(sid).values():
            if isinstance(loc, dict):
                assert loc["seg"] in post_segs
    # ...dropped-era segments are gone (floor is inline full, so only
    # the newest kept delta's refs survive the horizon filter)
    swept = pre_segs - post_segs
    assert swept, "expire swept nothing despite dropped snapshots"
    # table still reads correctly from a cold handle
    cold = make_table(spark, tdir, n_buckets=2)
    assert rows(cold.read()) == [(0, "v6", 6), (1, "v4", 4), (2, "v5", 5)]


def test_read_matching_opens_only_probed_buckets_segments(
    spark, tdir, seg_mode
):
    """Format-3 metadata prune: a cold probe materializes ONLY the
    matching buckets' segment files — the unprobed majority of a
    10⁶-file table's metadata is never read."""
    t = SnapshotTable(
        spark, tdir, key_cols=["g", "k"], order_col="ver",
        n_buckets=16, bucket_cols=["g"],
    )
    df = spark.createDataFrame(
        [(g, g * 100 + i, 1) for g in range(16) for i in range(3)],
        "g long, k long, ver long",
    ).withColumn("v", F.lit("x")).select("g", "k", "v", "ver")
    t.merge(df)
    cold = SnapshotTable(
        spark, tdir, key_cols=["g", "k"], order_col="ver",
        n_buckets=16, bucket_cols=["g"],
    )
    opened: list[str] = []
    real = cold._entries

    def spying(loc):
        if isinstance(loc, dict):
            opened.append(loc["seg"])
        return real(loc)

    cold._entries = spying
    probe = spark.createDataFrame([(3,)], "g long")
    got = sorted(
        r["k"] for r in cold.read_matching(probe).filter("g = 3").collect()
    )
    assert got == [300, 301, 302]
    n_probed = len(set(opened))
    assert 1 <= n_probed <= 2, (
        f"probe materialized {n_probed} bucket segments; expected ~1 "
        f"of 16 ({sorted(set(opened))})"
    )


def test_segment_mode_random_ops_match_model(spark, tdir, seg_mode):
    """Mini model test in seg mode: interleaved merge/append(+dedup
    compact)/expire against an in-memory keep-latest dict."""
    import random

    rng = random.Random(20260815)
    t = make_table(spark, tdir, n_buckets=4)
    model: dict[int, tuple] = {}
    ver = 0
    for step in range(12):
        ver += 1
        op = rng.choice(["merge", "merge", "append", "compact", "expire"])
        if op == "merge":
            triples = [
                (rng.randrange(8), f"m{ver}_{i}", ver) for i in range(3)
            ]
            dedup = {}
            for k, v, w in triples:
                dedup[k] = (k, v, w)
            t.merge(batch(spark, list(dedup.values())))
            model.update({k: r for k, r in dedup.items()})
        elif op == "append":
            k = 100 + ver  # append = new keys by construction
            t.append(batch(spark, [(k, f"a{ver}", ver)]))
            model[k] = (k, f"a{ver}", ver)
        elif op == "compact":
            if t.current_id():
                t.compact(dedup_keys=True)
        else:
            if t.current_id() and len(t.snapshot_ids()) > 2:
                t.expire_snapshots(keep_last=2)
        if t.current_id():
            assert rows(t.read()) == sorted(model.values()), f"step {step}"


def test_append_loses_cas_to_merge_and_retries(spark, tdir, monkeypatch):
    """Two writers, APPEND vs MERGE, racing the same CAS: the append
    that loses re-plans on the winner's state — no lost update on
    either side (same interleaving as the merge/merge race test,
    crossed commit forms)."""
    t_a = make_table(spark, tdir)
    t_b = make_table(spark, tdir)
    t_a.merge(batch(spark, [(1, "a", 1)]))

    real_claim = t_a._claim
    state = {"raced": False}

    def racing_claim(manifest, new_id):
        if not state["raced"]:
            state["raced"] = True
            t_b.merge(batch(spark, [(2, "from_b", 2)]))  # B wins id 2
        return real_claim(manifest, new_id)

    monkeypatch.setattr(t_a, "_claim", racing_claim)
    sid = t_a.append(batch(spark, [(3, "from_a", 2)]))
    assert sid == 3  # lost the CAS on 2, retried, claimed 3
    assert rows(t_a.read()) == [
        (1, "a", 1), (2, "from_b", 2), (3, "from_a", 2),
    ]
    assert [h["operation"] for h in t_a.history()] == [
        "merge", "merge", "append",
    ]
