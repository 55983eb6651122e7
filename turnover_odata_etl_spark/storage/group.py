"""Grouped multi-table transactions over :class:`SnapshotTable`
(round 11, VERDICT r10 item 5).

A wave of the incremental near-dup index commits rows to TWO tables
(band index + signature payloads). With independent per-table commits
there is a window where bands is one wave ahead of sigs — correct only
because every read carries dropDuplicates replay armor and every wave
re-runs its anti-joins. :class:`SnapshotGroup` removes the window: one
``os.link`` CAS on a group TRANSACTION record is the single commit
point for all member tables, after which per-member manifests are
rolled forward deterministically (and idempotently, by any handle).

Protocol — the same write-ahead shape Iceberg's REST catalog uses for
multi-table transactions, sized down to the filesystem CAS this layer
already trusts:

1. **Prepare** each member: staged data files land under the member's
   ``data/`` (durable, unreferenced — orphans on abort, exactly the
   existing crash-before-claim contract), and the member's manifest
   JSON is written to a durable temp file in its own manifest dir. No
   member claim happens.
2. **Claim** ``txns/txn-<K>.json`` via ``os.link`` — THE commit
   point. The record lists every member's (new id, temp manifest
   name, txn uuid). Losing the link = another group writer committed;
   abort (unlink temps) and retry on the new state.
3. **Roll forward**: link each member's temp manifest to its real
   ``manifest-<id>.json``, advance pointers, prime caches. A crash
   anywhere in step 3 is healed by :meth:`recover`, which any handle
   runs before reading or writing — roll-forward is idempotent (an
   already-linked manifest is verified by its embedded txn uuid).

Induction keeps "recover the LATEST txn only" sound: txn K is claimed
only after the claimant ran ``recover()``, which completed K-1 — so at
most one txn is ever un-rolled.

Constraint (checked, loudly): member tables of a group must be written
ONLY through the group. A foreign direct commit that steals a member
manifest id surfaces as a RuntimeError at roll-forward (txn uuid
mismatch), never as silent divergence.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame

from .snapshot import SnapshotTable

_TXN_RE = re.compile(r"^txn-(\d+)\.json$")


class SnapshotGroup:
    def __init__(
        self, tables: dict[str, SnapshotTable], group_dir: str
    ) -> None:
        if not tables:
            raise ValueError("SnapshotGroup needs at least one table")
        self.tables = dict(tables)
        self._txn_dir = os.path.join(group_dir, "txns")
        self._applied = 0  # highest txn this handle knows is rolled

    # ------------------------------------------------------------ txn log

    def last_txn(self) -> int:
        """Highest claimed transaction number (0 = none)."""
        try:
            names = os.listdir(self._txn_dir)
        except FileNotFoundError:
            return 0
        ids = [int(m.group(1)) for n in names if (m := _TXN_RE.match(n))]
        return max(ids, default=0)

    def _txn_path(self, k: int) -> str:
        return os.path.join(self._txn_dir, f"txn-{k}.json")

    def recover(self) -> None:
        """Complete the latest transaction's roll-forward (idempotent;
        safe to race — manifest links are CAS and verified by txn
        uuid). Every group read/write path runs this first, so a
        crash between the group claim and the member links can never
        be observed as a torn commit by group users. A transaction
        explicitly voided by :meth:`abort_txn` is skipped — that is
        the documented repair path for the foreign-steal wedge."""
        k = self.last_txn()
        if k == 0 or k == self._applied:
            return  # hot path: this handle already rolled k forward
        if os.path.exists(self._abort_path(k)):
            self._applied = k
            return
        with open(self._txn_path(k)) as fh:
            rec = json.load(fh)
        self._roll_forward(rec)
        self._applied = k

    def _abort_path(self, k: int) -> str:
        # deliberately NOT matching _TXN_RE: markers never count as
        # transactions for last_txn()/claim numbering
        return os.path.join(self._txn_dir, f"txn-{k}.json.aborted")

    def _member_state(self, name: str, m: dict) -> str:
        """'applied' (target linked with our txn uuid), 'stolen'
        (target exists but belongs to a foreign commit), or
        'unapplied' (target missing)."""
        t = self.tables[name]
        target = os.path.join(t._manifest_dir, f"manifest-{m['id']}.json")
        if not os.path.exists(target):
            return "unapplied"
        with open(target) as fh:
            committed = json.load(fh)
        return "applied" if committed.get("txn") == m["txn"] else "stolen"

    def _roll_forward(self, rec: dict) -> None:
        """Two-phase (ADVICE r11): phase 1 links and VERIFIES every
        member's target manifest; only when all members check out does
        phase 2 advance pointers and reclaim temps. A foreign steal is
        therefore detected before ANY pointer moves — the failure is
        loud and the group's pointers stay where they were (a member's
        linked-but-unpointed manifest is still reader-visible through
        the table's roll-past-the-hint rule; the manifests are the
        truth and cannot be unpublished). Repair: :meth:`abort_txn`."""
        members = {
            name: {**m, "txn": rec["txn"]}
            for name, m in rec["members"].items()
        }
        for name, m in members.items():
            t = self.tables[name]
            target = os.path.join(
                t._manifest_dir, f"manifest-{m['id']}.json"
            )
            tmp = os.path.join(t._manifest_dir, m["tmp"])
            if not os.path.exists(target):
                try:
                    os.link(tmp, target)
                except FileExistsError:
                    pass  # another handle's recover won the link race
                except FileNotFoundError:
                    # tmp gone AND target missing: impossible under the
                    # protocol (tmps are durable before the claim and
                    # removed only after linking) — surface it.
                    raise RuntimeError(
                        f"group txn {rec['txn']}: member {name!r} lost "
                        f"both temp and target manifest for id {m['id']}"
                    ) from None
            if self._member_state(name, m) == "stolen":
                raise RuntimeError(
                    f"group member {name!r} manifest {m['id']} was "
                    f"claimed by a foreign commit; group members must "
                    "be written only through the group. No member "
                    "pointer has been advanced for this txn, but "
                    "members whose manifests DID link ('applied') are "
                    "already reader-visible through the "
                    "roll-past-the-pointer-hint rule — the group is "
                    "observably torn until repaired. Run abort_txn() "
                    "to void the txn; its status report is the "
                    "authoritative torn-state inventory (see its "
                    "docstring for the re-plan contract)"
                )
        for name, m in members.items():
            t = self.tables[name]
            t._write_pointer(m["id"])
            tmp = os.path.join(t._manifest_dir, m["tmp"])
            if os.path.exists(tmp):
                os.unlink(tmp)

    def abort_txn(self, k: int | None = None) -> dict[str, str]:
        """REPAIR (requires no concurrent group writers): void the
        latest transaction when roll-forward is permanently wedged —
        the one reachable wedge is a FOREIGN direct member commit
        stealing a member's manifest id between the group claim and
        that member's link (every other interruption heals through
        :meth:`recover`). Writes a durable ``.aborted`` marker next to
        the txn record; ``recover()`` thereafter skips the txn and the
        group accepts new commits again.

        Returns ``{member: 'applied' | 'stolen' | 'unapplied'}`` — the
        torn-state report. 'applied' members carry the txn's rows
        (their manifests are published and may already have readers or
        successor commits; they are NOT rolled back); 'stolen' and
        'unapplied' members do not. The caller owns re-planning:
        re-issue the lost members' batches through a fresh group
        commit (appends are safe to re-issue verbatim; keep-latest
        merges converge by construction). Leftover temp manifests of
        non-applied members are reclaimed here."""
        latest = self.last_txn()
        if k is None:
            k = latest
        if k == 0:
            raise ValueError("no transactions to abort")
        if k != latest:
            raise ValueError(
                f"only the latest txn can be wedged (induction: {k} < "
                f"{latest} means txn {k} completed before {latest} was "
                "claimed); nothing to repair"
            )
        with open(self._txn_path(k)) as fh:
            rec = json.load(fh)
        status: dict[str, str] = {}
        for name, m in rec["members"].items():
            st = self._member_state(name, {**m, "txn": rec["txn"]})
            status[name] = st
            if st != "applied":
                tmp = os.path.join(
                    self.tables[name]._manifest_dir, m["tmp"]
                )
                if os.path.exists(tmp):
                    os.unlink(tmp)
        marker = self._abort_path(k)
        marker_tmp = marker + ".tmp"
        with open(marker_tmp, "w") as fh:
            json.dump({"txn": rec["txn"], "members": status}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(marker_tmp, marker)
        self._applied = k
        return status

    # ------------------------------------------------------------ commit

    def append_all(
        self,
        batches: dict[str, DataFrame],
        max_retries: int = 5,
        properties: dict | None = None,
        before_claim=None,
    ) -> dict[str, int]:
        """APPEND every batch to its member table as ONE atomic
        transaction: either every member's new snapshot becomes
        visible (to group users — ``recover()`` heals the member-link
        window) or none does. Returns ``{name: committed id}``.
        Members whose batch is empty no-op at their current id, same
        as :meth:`SnapshotTable.append` — unless ``properties`` is
        given, in which case every member advances with a
        metadata-only commit (the empty-micro-batch watermark
        contract: a checkpoint consumer like ``NeardupIndex`` needs
        ids to advance even on zero-row triggers).

        ``before_claim``: optional zero-arg callable invoked after
        every member's prepare is durable and IMMEDIATELY BEFORE the
        txn claim (the commit point), on every claim attempt. The
        §2.6 overlap hook: a caller whose protocol requires its own
        artifact to be secured before the commit (the incremental
        near-dup wave's verified pairs) can compute it in a driver
        thread CONCURRENT with the member staged writes and pass the
        future's ``result`` here — ordering is preserved, the wall
        is not. If it raises, nothing has been claimed: temp
        manifests are reclaimed and the error propagates (staged
        data files stay orphans, the normal crash-before-claim
        contract)."""
        return self._txn_all(
            batches,
            max_retries,
            lambda name, t, df: t._prepare_append(
                df, properties=properties
            ),
            op="append",
            before_claim=before_claim,
        )

    def merge_all(
        self,
        batches: dict[str, DataFrame],
        tombstone_filters: dict[str, str] | None = None,
        max_retries: int = 5,
        properties: dict | None = None,
    ) -> dict[str, int]:
        """Keep-latest MERGE every batch into its member table as ONE
        atomic transaction — the base-table + derived-view pattern
        (e.g. an incrementally-maintained aggregate committed in the
        same instant as the base it reflects), with the same empty-
        batch/properties contract as :meth:`append_all`. Per-member
        ``tombstone_filters`` give CDC APPLY semantics, same as
        :meth:`SnapshotTable.merge`."""
        tf = tombstone_filters or {}
        bad = set(tf) - set(self.tables)
        if bad:
            raise ValueError(
                f"unknown tombstone_filters members: {sorted(bad)}"
            )
        return self._txn_all(
            batches,
            max_retries,
            lambda name, t, df: t._prepare_rewrite(
                "merge", df, tf.get(name), properties, keep_latest=True
            ),
            op="merge",
        )

    def publish_branches(
        self,
        branches: dict,
        max_retries: int = 5,
    ) -> dict[str, int]:
        """ATOMIC MULTI-TABLE write-audit-publish (round 14 — the
        catalog-level half of the Nessie/Iceberg-REST pattern):
        publish each member's WAP branch in ONE group transaction —
        every member's audited state becomes visible in the same
        instant or none does. The consistency story: an index
        rebuild staged on a postings branch must land WITH its
        codebook branch; a fact-table restatement must land WITH its
        derived aggregate.

        ``branches`` maps member names to :class:`SnapshotBranch`
        handles forked FROM those members. Each branch's publish
        manifest is PREPARED (never claimed) via the single-table
        machinery, then the group txn CAS commits all of them; a
        non-fast-forward member (its main moved past the fork)
        raises ``CommitConflict`` BEFORE the claim, so atomicity
        holds on refusal too — no member publishes. Commit-less
        branches no-op at their member's current id; a crashed
        publish re-runs idempotently (prepared publishes
        self-identify via the ``publish.branch``/``head``
        properties). Branch names are cleaned up after the commit."""
        from .snapshot import SnapshotBranch

        for name, b in branches.items():
            if name not in self.tables:
                raise ValueError(
                    f"publish_branches: unknown member {name!r}"
                )
            if not isinstance(b, SnapshotBranch):
                raise ValueError(
                    f"publish_branches: member {name!r} must map to "
                    "a SnapshotBranch"
                )
            if b._main.table_dir != self.tables[name].table_dir:
                raise ValueError(
                    f"publish_branches: branch for {name!r} was "
                    "forked from a different table"
                )

        def prepare(name, t, branch):
            prep = branch._prepare_publish()
            if prep is None:  # commit-less branch: member no-ops
                return t.current_id() or 0
            return prep  # int (already published) or (m, id, bb)

        out = self._txn_all(branches, max_retries, prepare, op="publish")
        for b in branches.values():
            b._cleanup_branch_names(b._branch_ids())
        return out

    def apply_all(
        self,
        ops: "dict[str, tuple[str, DataFrame]]",
        max_retries: int = 5,
        properties: dict | None = None,
        tombstone_filters: dict[str, str] | None = None,
    ) -> dict[str, int]:
        """MIXED-VERB atomic transaction (round 13): each member
        names its own verb — ``{"postings": ("overwrite", df1),
        "codebook": ("merge", df2)}`` — and all of them become
        visible in one instant or none do. The consistency story this
        exists for: an IVF posting rebalance MUST land with its
        re-trained codebook (probes against a new codebook read the
        old cell layout otherwise — silently wrong neighbors), and in
        general any derived artifact that must stay in lockstep with
        a full rewrite of its base. Verbs: ``append`` | ``merge`` |
        ``overwrite`` (same per-verb semantics and empty-batch
        contracts as the single-verb transactions; ``overwrite`` is
        never a no-op). ``tombstone_filters`` applies to ``merge``
        members, as in :meth:`merge_all`."""
        tf = tombstone_filters or {}
        bad_tf = set(tf) - set(self.tables)
        if bad_tf:
            raise ValueError(
                f"unknown tombstone_filters members: {sorted(bad_tf)}"
            )
        verbs = {"append", "merge", "overwrite"}
        bad = {
            name: (
                spec[0]
                if isinstance(spec, tuple) and len(spec) == 2
                else repr(spec)  # malformed spec: report, don't index
            )
            for name, spec in ops.items()
            if not (isinstance(spec, tuple) and len(spec) == 2)
            or spec[0] not in verbs
        }
        if bad:
            raise ValueError(
                f"apply_all: members must map to (verb, frame) with "
                f"verb in {sorted(verbs)}; got {bad}"
            )

        def prepare(name, t, spec):
            verb, df = spec
            if verb == "append":
                return t._prepare_append(df, properties=properties)
            if verb == "merge":
                return t._prepare_rewrite(
                    "merge", df, tf.get(name), properties, keep_latest=True
                )
            return t._prepare_overwrite(df, properties=properties)

        return self._txn_all(ops, max_retries, prepare, op="apply")

    def _txn_all(
        self, batches, max_retries, prepare, op: str, before_claim=None
    ) -> dict[str, int]:
        unknown = set(batches) - set(self.tables)
        if unknown:
            raise ValueError(f"unknown group members: {sorted(unknown)}")
        for _ in range(max_retries):
            # Capture the txn number BEFORE preparing members (review
            # r11): the claim on k+1 then fails for ANY group commit
            # that lands after this point, so member manifests can
            # never be prepared against one state and claimed over
            # another — the stale-claim/poisoned-record interleaving.
            k = self.last_txn()
            self.recover()
            txn_uid = uuid.uuid4().hex
            out: dict[str, int] = {}
            prepared: dict[str, tuple] = {}
            try:
                # Member prepares are independent until the claim
                # (each stages under its OWN data/ and manifest dir),
                # so run them from driver threads (round 17, guide
                # §2.6): the next member's staged-write tasks
                # back-fill executors freed by the current member's
                # tail instead of waiting for it. Results are
                # consumed in the caller's member order below, so
                # the txn record is byte-identical to the serial
                # form. A failed prepare leaves its siblings'
                # staged files as orphans — exactly the existing
                # crash-before-claim contract.
                if len(batches) > 1:
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(
                        max_workers=min(len(batches), 4)
                    ) as pool:
                        futs = {
                            name: pool.submit(
                                prepare, name, self.tables[name], df
                            )
                            for name, df in batches.items()
                        }
                        errs = []
                        preps: dict[str, object] = {}
                        for name, fut in futs.items():
                            try:
                                preps[name] = fut.result()
                            except BaseException as e:  # noqa: BLE001
                                errs.append(e)
                        if errs:
                            raise errs[0]
                else:
                    preps = {
                        name: prepare(name, self.tables[name], df)
                        for name, df in batches.items()
                    }
                for name in batches:
                    t = self.tables[name]
                    prep = preps[name]
                    if isinstance(prep, int):
                        out[name] = prep  # empty batch — no-op member
                        continue
                    manifest, new_id, merged_bb = prep
                    manifest["txn"] = txn_uid
                    tmp = t._write_manifest_tmp(manifest)
                    prepared[name] = (t, manifest, new_id, merged_bb, tmp)
                if before_claim is not None:
                    # The caller's own durable-before-commit artifact
                    # (see append_all): must complete before ANY claim
                    # attempt can land.
                    before_claim()
            except BaseException:
                # A member's prepare (or before_claim) failed: durable
                # TEMP manifests must not leak — staged data files are
                # swept by the normal orphan contract, but nothing
                # else ever removes .tmp-*.json (review r11).
                for _t, _m, _id, _bb, tmp in prepared.values():
                    if os.path.exists(tmp):
                        os.unlink(tmp)
                raise
            if not prepared:
                return out
            rec = {
                "txn": txn_uid,
                "members": {
                    name: {
                        "id": new_id,
                        "tmp": os.path.basename(tmp),
                    }
                    for name, (t, _m, new_id, _bb, tmp) in prepared.items()
                },
            }
            os.makedirs(self._txn_dir, exist_ok=True)
            rec_tmp = os.path.join(
                self._txn_dir, f".tmp-{txn_uid[:12]}.json"
            )
            with open(rec_tmp, "w") as fh:
                json.dump(rec, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(rec_tmp, self._txn_path(k + 1))  # commit point
            except FileExistsError:
                # lost the group race: abort this attempt (staged data
                # files stay as orphans, same as a lost member CAS) and
                # re-plan against the winner's state
                for _t, _m, _id, _bb, tmp in prepared.values():
                    if os.path.exists(tmp):
                        os.unlink(tmp)
                continue
            finally:
                if os.path.exists(rec_tmp):
                    os.unlink(rec_tmp)
            # committed — roll forward (crash-safe: recover() replays)
            self._roll_forward(rec)
            self._applied = k + 1
            for name, (t, manifest, new_id, merged_bb, _tmp) in (
                prepared.items()
            ):
                t._prime_meta(new_id, manifest)
                t._prime_bb(new_id, merged_bb)
                out[name] = new_id
            return out
        raise RuntimeError(
            f"group {op} lost the commit race {max_retries} times"
        )

    def expire_txns(self, keep_last: int = 8) -> None:
        """MAINTENANCE: reclaim applied txn records (recover() reads
        only the latest). Requires NO concurrent group writers — a
        writer stalled between its txn-number capture and its claim
        could otherwise re-claim a pruned number (the same quiesced-
        writers retention contract as ``expire_snapshots``); records
        are ~200 bytes each, so routine operation can simply keep
        them."""
        k = self.last_txn()
        try:
            names = os.listdir(self._txn_dir)
        except FileNotFoundError:
            return
        for n in names:
            m = _TXN_RE.match(n) or re.match(
                r"^txn-(\d+)\.json\.aborted$", n
            )
            if m and int(m.group(1)) <= k - keep_last:
                try:
                    os.unlink(os.path.join(self._txn_dir, n))
                except OSError:
                    pass
