"""The benchmark's workloads.

A workload stages its inputs (repeatably, for the set-up median),
warms up once, then yields the ops of each timed pass. An op is a
read or a committing write; its result is kept and checked against
an independent reference after the timed window.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

import datagen
from compare import Canonical, same_result

@dataclass
class Op:
    name: str
    kind: str  # "read" | "write"
    fn: Callable[[], Any]
    rows: int = 0
    storage_read: bool = False
    info: dict = field(default_factory=dict)


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def wrap_storage(tracer) -> None:
    """Time the public SnapshotTable/SnapshotGroup verbs as storage spans."""
    from turnover_odata_etl_spark.storage import SnapshotTable
    from turnover_odata_etl_spark.storage.group import SnapshotGroup

    for verb in ("append", "merge", "merge_into", "update_where", "delete_where",
                 "compact", "expire_snapshots"):
        tracer.wrap(SnapshotTable, verb, "storage", f"storage.{verb}")
    for verb in ("read_where", "read", "changes"):
        tracer.wrap(SnapshotTable, verb, "storage", f"storage.read.{verb}")
    tracer.wrap(SnapshotGroup, "append_all", "storage", "storage.append_all")


class Workload:
    name = ""
    nominal_pass_s = 10.0
    needs_stub = False  # serve the OData stub (stub.py) for this workload
    table_dirs: list[str] = []

    def __init__(self, ctx):
        self.ctx = ctx


# ------------------------------------------------------------ odata


class ODataETL(Workload):
    """run_etl + sink_csv over the wire, then delta-sync cycles."""

    name = "odata_etl"
    nominal_pass_s = 7.0
    needs_stub = True
    upserts, deletes = 150, 50
    syncs_per_pass = 2

    def _post(self, path: str, payload: dict) -> None:
        req = urllib.request.Request(
            f"{self.ctx.stub_url}{path}", data=json.dumps(payload).encode(), method="POST"
        )
        urllib.request.urlopen(req, timeout=60).read()

    def stats(self) -> dict:
        with urllib.request.urlopen(f"{self.ctx.stub_url}/_stats", timeout=60) as r:
            return json.loads(r.read())

    def instrument(self, tracer) -> None:
        from turnover_odata_etl_spark import etl
        from turnover_odata_etl_spark.sources.odata_client import ODataClient

        tracer.wrap(etl, "extract", "etl", "etl.extract")
        tracer.wrap(etl, "sink_csv", "etl", "etl.sink_csv")
        tracer.wrap(ODataClient, "fetch_tracked", "sources", "odata.fetch_tracked")
        tracer.wrap(ODataClient, "fetch_delta", "sources", "odata.fetch_delta")
        wrap_storage(tracer)

    def stage(self, rep: int) -> None:
        """Mirror the change-tracked set the stub serves (the stub itself
        indexes both entity sets once, while the JVM starts)."""
        self.stats()
        self.live = {r["ID"]: r for r in datagen.live_rows(self.ctx.seed, datagen.LIVE_ROWS)}
        self.rng = np.random.default_rng([self.ctx.seed, 99])
        self.next_id = datagen.LIVE_ROWS
        self.user_bytes = 0

    def warmup(self) -> None:
        """Bootstrap the sync table (a full tracked read), run one delta
        cycle, then one untimed ETL pass."""
        from turnover_odata_etl_spark.sources.odata_client import ODataClient
        from turnover_odata_etl_spark.sources.odata_sync import sync_entity

        self.client = ODataClient(f"{self.ctx.stub_url}/v4", retries=3, backoff=0.05)
        self.sync_dir = os.path.join(self.ctx.work, "sync")
        self.table_dirs = [self.sync_dir]
        sync_entity(
            self.ctx.spark, self.client, "Live", self.sync_dir, "ID", datagen.LIVE_FIELDS
        )
        self._server_change()
        self._sync()
        self._etl(os.path.join(self.ctx.work, "etl-warmup"))
        self.user_bytes = 0

    def _etl(self, out_dir: str) -> str:
        from turnover_odata_etl_spark import etl

        cfg = etl.ETLConfig(base_url=f"{self.ctx.stub_url}/v2", entity="Turnover")
        with self.ctx.tracer.span("plan.build", "plans"):
            df = etl.run_etl(self.ctx.spark, cfg)
        etl.sink_csv(df, out_dir)
        self.ctx.note_plan(df)
        return out_dir

    def _mutation(self) -> tuple[list[dict], list[str]]:
        rng = self.rng
        keys = list(self.live)
        ups = []
        for k in rng.choice(len(keys), self.upserts // 2, replace=False):
            row = dict(self.live[keys[int(k)]])
            row["AMOUNT"] = f"{float(rng.uniform(0, 1000)):.2f}"
            row["KCLEAVERS"] = str(int(rng.integers(0, 5)))
            ups.append(row)
        for _ in range(self.upserts - len(ups)):
            i = self.next_id
            self.next_id += 1
            ups.append({
                "ID": str(i), "NAME": f"Row {i}", "STRUCTURE": f"S{int(rng.integers(0, 50))}",
                "KCLEAVERS": str(int(rng.integers(0, 5))),
                "AMOUNT": f"{float(rng.uniform(0, 1000)):.2f}",
            })
        touched = {u["ID"] for u in ups}
        pool = [k for k in keys if k not in touched]
        dels = [pool[int(j)] for j in rng.choice(len(pool), self.deletes, replace=False)]
        return ups, dels

    def _sync(self):
        from turnover_odata_etl_spark.sources.odata_sync import sync_entity

        return sync_entity(
            self.ctx.spark, self.client, "Live", self.sync_dir, "ID", datagen.LIVE_FIELDS
        )

    def _server_change(self) -> int:
        """Apply a seeded batch of upserts and deletes on the stub and to
        the mirror of its state; returns the number of changes."""
        ups, dels = self._mutation()
        self._post("/_mutate", {"upserts": ups, "deletes": dels})
        self.user_bytes += pa.Table.from_pylist(ups).nbytes
        for u in ups:
            self.live[u["ID"]] = u
        for d in dels:
            self.live.pop(d, None)
        return len(ups) + len(dels)

    def pass_ops(self, p: int) -> Iterator[Op]:
        out_dir = os.path.join(self.ctx.work, f"etl-{p}")
        yield Op("etl_pass", "read", lambda: self._etl(out_dir), rows=datagen.TURNOVER_ROWS)
        for _ in range(self.syncs_per_pass):
            # the server-side change happens between ops; the op is the sync
            n_changes = self._server_change()
            yield Op("sync_cycle", "write", self._sync, rows=n_changes,
                     info={"state": dict(self.live)})

    def expected_etl(self) -> pd.DataFrame:
        c = datagen.turnover_columns(
            self.ctx.seed, datagen.TURNOVER_ROWS, datagen.TURNOVER_STRUCTURES)
        keep = np.array([s is not None and s != "" for s in c["struct"]])
        emp = pd.Series(c["emp"][keep]).astype(str)
        out = pd.DataFrame({
            "Employee": "Employee " + emp,
            "Employee ID": emp,
            "Date From": c["start"][keep],
            "Date To": c["end"][keep],
            "K Cleavers": c["leavers"][keep],
            "Structure": c["struct"][keep],
        })
        return out.drop_duplicates().reset_index(drop=True)

    @staticmethod
    def read_csv_out(out_dir: str) -> pd.DataFrame:
        parts = sorted(f for f in os.listdir(out_dir) if f.endswith(".csv"))
        got = pd.concat(
            [pd.read_csv(os.path.join(out_dir, f), dtype=str, keep_default_na=False)
             for f in parts],
            ignore_index=True,
        )
        for c in ("Date From", "Date To"):
            ts = pd.to_datetime(got[c], utc=True, format="ISO8601")
            got[c] = (ts.astype("int64") // 1_000_000).astype("int64")
        got["K Cleavers"] = got["K Cleavers"].astype("int64")
        return got

    def check(self, records: list[dict]) -> None:
        from turnover_odata_etl_spark.storage import SnapshotTable

        want = Canonical(self.expected_etl())
        table = SnapshotTable.load(self.ctx.spark, self.sync_dir)
        for r in records:
            if r["ok"] is not None:
                continue
            if r["name"] == "etl_pass":
                got = self.read_csv_out(r["result"])
                ok, why = same_result(got, want)
                if ok:  # the sink's order contract: Structure, Employee
                    keys = list(zip(got["Structure"], got["Employee"]))
                    ok = keys == sorted(keys)
                    why = "" if ok else "output not sorted by (Structure, Employee)"
            else:
                state = r["info"]["state"]
                got = table.read(r["result"]).drop("__sync_seq", "__deleted").toPandas()
                ok, why = same_result(got, pd.DataFrame(list(state.values()),
                                                        columns=datagen.LIVE_FIELDS))
            r["ok"], r["why"] = ok, why

    def storage_tables(self) -> list:
        from turnover_odata_etl_spark.storage import SnapshotTable

        return [SnapshotTable.load(self.ctx.spark, self.sync_dir)]

    def live_bytes(self) -> int:
        return pa.Table.from_pylist(list(self.live.values())).nbytes


# ------------------------------------------------------------ snapshot


LI_KEY, LI_VER = "l_id", "l_ver"


class KeyedTable:
    """A SnapshotTable (plus a log table in one SnapshotGroup) and the
    keyed pandas model of its expected contents. Each verb runs on the
    engine, is then applied to the model, and returns the number of user
    rows it submitted (0 for maintenance verbs)."""

    def __init__(self, ctx, base: str, lineitem: pd.DataFrame, seed, n_buckets: int):
        """Stage the rows; ``create()`` makes the tables and loads them."""
        self.ctx = ctx
        self.base = base
        self.n_buckets = n_buckets
        shutil.rmtree(base, ignore_errors=True)
        li = lineitem.copy()
        li.insert(0, LI_KEY, np.arange(len(li), dtype=np.int64))
        li.insert(1, LI_VER, np.zeros(len(li), dtype=np.int64))
        li["l_shipdate"] = li["l_shipdate"].astype("datetime64[us]")
        self.model = li.set_index(LI_KEY, drop=False)
        self.user_bytes = 0
        self.next_key = len(li)
        self.ver = 1
        self.dirs = [os.path.join(base, "li"), os.path.join(base, "log")]
        self.log_rows = 0
        self.log_bytes = 0
        self.rng = np.random.default_rng(seed)

    def create(self) -> None:
        from turnover_odata_etl_spark.storage import SnapshotTable
        from turnover_odata_etl_spark.storage.group import SnapshotGroup

        spark, n = self.ctx.spark, self.n_buckets
        self.table = SnapshotTable(spark, self.dirs[0], [LI_KEY], LI_VER, n)
        self.log = SnapshotTable(spark, self.dirs[1], ["log_id"], "log_ver", n)
        self.group = SnapshotGroup({"li": self.table, "log": self.log},
                                   os.path.join(self.base, "group"))
        sid = self.table.append(self._df(self.model.reset_index(drop=True)))
        self.history = [sid]
        self.states = {sid: self.model}
        self.append(self.new_rows(400))  # so changes() has a base
        self.user_bytes = 0

    def _df(self, pdf: pd.DataFrame):
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        self.user_bytes += table.nbytes
        return self.ctx.spark.createDataFrame(table)

    # -- batch makers (model side) ---------------------------------------

    def new_rows(self, n: int) -> pd.DataFrame:
        rng = self.rng
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        src = self.model.iloc[rng.integers(0, len(self.model), n)].copy()
        src[LI_KEY] = keys
        src[LI_VER] = self.ver
        src["l_quantity"] = rng.integers(1, 51, n).astype(np.float64)
        return src.reset_index(drop=True)

    def changed_rows(self, n: int) -> pd.DataFrame:
        rng = self.rng
        pick = self.model.iloc[rng.choice(len(self.model), n, replace=False)].copy()
        pick[LI_VER] = self.ver
        pick["l_discount"] = rng.integers(0, 11, n) / 100.0
        return pick.reset_index(drop=True)

    def _commit(self, sid: int, model: pd.DataFrame) -> None:
        self.model = model
        self.history.append(sid)
        self.states[sid] = model
        self.ver += 1

    # -- verbs -------------------------------------------------------------

    def append(self, rows):
        sid = self.table.append(self._df(rows))
        self._commit(sid, pd.concat([self.model, rows.set_index(LI_KEY, drop=False)]))
        return len(rows)

    def merge(self, rows, mode):
        sid = self.table.merge_into(self._df(rows), mode=mode)
        r = rows.set_index(LI_KEY, drop=False)
        self._commit(sid, pd.concat([self.model.drop(index=r.index, errors="ignore"), r]))
        return len(rows)

    def update_where(self, lo, hi):
        pred = f"l_quantity BETWEEN {lo} AND {hi} AND l_linenumber = 3"
        sid = self.table.update_where(pred, {"l_tax": "l_tax + 0.01"})
        m = self.model.copy()
        hit = m["l_quantity"].between(lo, hi) & (m["l_linenumber"] == 3)
        m.loc[hit, "l_tax"] = m.loc[hit, "l_tax"] + 0.01
        self._commit(sid, m)
        return int(hit.sum())

    def delete_where(self, lo, hi):
        sid = self.table.delete_where(
            f"l_quantity BETWEEN {lo} AND {hi} AND l_linenumber = 5", mode="mor"
        )
        m = self.model
        hit = m["l_quantity"].between(lo, hi) & (m["l_linenumber"] == 5)
        self._commit(sid, m[~hit])
        return int(hit.sum())

    def append_all(self, rows):
        log = pd.DataFrame({
            "log_id": np.arange(self.log_rows, self.log_rows + len(rows), dtype=np.int64),
            "log_ver": np.full(len(rows), self.ver, dtype=np.int64),
            "l_id": rows[LI_KEY].to_numpy(),
        })
        self.log_rows += len(rows)
        self.log_bytes += pa.Table.from_pandas(log, preserve_index=False).nbytes
        ids = self.group.append_all({"li": self._df(rows), "log": self._df(log)})
        self._commit(ids["li"], pd.concat([self.model, rows.set_index(LI_KEY, drop=False)]))
        return len(rows) + len(log)

    def compact(self):
        self._commit(self.table.compact(), self.model)
        return 0

    def expire(self):
        self.table.expire_snapshots(keep_last=6)
        return 0

    # -- reads: the engine frame and a thunk giving the model's answer -----

    def _read(self, frame_fn, expect_fn):
        # building the frame is the read's plan build; the wrapped
        # storage read verb inside it is the read resolve
        with self.ctx.tracer.span("plan.build", "plans"):
            df = frame_fn()
        with self.ctx.tracer.span("action", "operators"):
            out = df.toArrow()
        self.ctx.note_plan(df)
        return {"got": out, "want": expect_fn}

    def read_point(self):
        key = int(self.model.index[int(self.rng.integers(0, len(self.model)))])
        model = self.model
        return self._read(lambda: self.table.read_where(LI_KEY, key, key),
                          lambda: model[model[LI_KEY] == key])

    def read_range(self):
        lo = float(self.rng.integers(1, 49))
        model = self.model
        return self._read(lambda: self.table.read_where("l_quantity", lo, lo + 1.0),
                          lambda: model[model["l_quantity"].between(lo, lo + 1.0)])

    def read_time_travel(self):
        sid = self.history[-3]
        state = self.states[sid]
        return self._read(lambda: self.table.read(sid), lambda: state)

    def changes(self):
        a, b = self.history[-2], self.history[-1]
        before, after = self.states[a], self.states[b]
        return self._read(lambda: self.table.changes(a, b),
                          lambda: _net_changes(before, after))

    def ops(self, batch: int) -> list[Op]:
        """One pass: every verb once, reads interleaved, in a fixed order;
        the seed picks the rows, keys and predicate ranges."""
        rng = self.rng
        b = batch

        def w(name, fn):
            return Op(name, "write", fn)

        def r(name, fn):
            return Op(name, "read", fn, storage_read=True)

        def upd():
            lo = int(rng.integers(1, 45))
            return self.update_where(lo, lo + 5)

        def dele():
            lo = int(rng.integers(1, 48))
            return self.delete_where(lo, lo + 2)

        def mixed():
            return pd.concat([self.changed_rows(b // 2), self.new_rows(b // 2)])

        # Reads that find merge-on-read deltas pending (after merge_mor,
        # delete_where and append_all) take several times longer than
        # the rest; most reads sit there, so the read median falls inside
        # that group rather than on its edge.
        return [
            w("append", lambda: self.append(self.new_rows(b))),
            r("read_point", self.read_point),
            w("merge_cow", lambda: self.merge(mixed(), "cow")),
            r("read_range", self.read_range),
            w("merge_mor", lambda: self.merge(mixed(), "mor")),
            r("read_range", self.read_range),
            r("read_point", self.read_point),
            w("update_where", upd),
            r("read_range", self.read_range),
            w("delete_where", dele),
            r("read_range", self.read_range),
            r("read_point", self.read_point),
            r("read_time_travel", self.read_time_travel),
            w("append_all", lambda: self.append_all(self.new_rows(b // 2))),
            r("read_range", self.read_range),
            r("read_point", self.read_point),
            r("changes", self.changes),
            w("compact", self.compact),
            r("read_range", self.read_range),
            w("expire", self.expire),
            r("read_range", self.read_range),
        ]

    def live_bytes(self) -> int:
        """Arrow bytes of the live rows of both tables."""
        return pa.Table.from_pandas(self.model, preserve_index=False).nbytes + self.log_bytes


class SnapshotLifecycle(Workload):
    """SnapshotTable/SnapshotGroup verbs with reads interleaved, plus one
    streaming IVM consumer, over lineitem. Each pass runs every verb once
    in a fixed order with seeded rows, keys and predicates."""

    name = "snapshot_lifecycle"
    nominal_pass_s = 20.0
    sf = 0.005
    warm_rows = 3000
    n_buckets = 4
    batch = 400

    def instrument(self, tracer) -> None:
        from turnover_odata_etl_spark.streaming import incremental

        wrap_storage(tracer)
        tracer.wrap(incremental, "run_incremental_ivm", "streaming", "stream.ivm")

    def stage(self, rep: int) -> None:
        self.li = datagen.lineitem(self.ctx.seed, self.sf).to_pandas()
        self.kt = KeyedTable(self.ctx, os.path.join(self.ctx.work, f"snap-{rep}"), self.li,
                             [self.ctx.seed, 7], self.n_buckets)
        self.table_dirs = self.kt.dirs

    def warmup(self) -> None:
        """Run every verb and read once on a small throwaway table, so
        the timed pass does not pay the JVM's first-run compilation; load
        the table; build the IVM view with its first trigger."""
        warm = KeyedTable(self.ctx, os.path.join(self.ctx.work, "snap-warm"),
                          self.li.head(self.warm_rows), [self.ctx.seed, 8], self.n_buckets)
        warm.create()
        for op in warm.ops(self.batch):
            op.fn()
        self.kt.create()
        ivm = os.path.join(self.ctx.work, "ivm")
        self.ivm = {k: os.path.join(ivm, k) for k in ("src", "table", "agg", "ckpt")}
        os.makedirs(self.ivm["src"], exist_ok=True)
        self.ivm_model: dict[int, tuple[str, float]] = {}
        self.ivm_batches = 0
        self.ivm_rng = np.random.default_rng([self.ctx.seed, 9])
        self._ivm_batch()

    def _ivm_batch(self):
        from turnover_odata_etl_spark.streaming.incremental import run_incremental_ivm
        from pyspark.sql import types as T

        rng, n = self.ivm_rng, 200
        pdf = pd.DataFrame({
            "k": rng.integers(0, 2000, n).astype(np.int64),
            "grp": [f"g{int(g)}" for g in rng.integers(0, 20, n)],
            "val": np.round(rng.uniform(0, 100, n), 2),
            "ver": np.arange(self.ivm_batches * n, (self.ivm_batches + 1) * n, dtype=np.int64),
            "deleted": rng.random(n) < 0.1,
        }).drop_duplicates("k", keep="last")
        path = os.path.join(self.ivm["src"], f"batch-{self.ivm_batches:05d}.parquet")
        pdf.to_parquet(path + ".tmp", index=False)
        os.replace(path + ".tmp", path)
        self.ivm_batches += 1
        schema = T.StructType([
            T.StructField("k", T.LongType()), T.StructField("grp", T.StringType()),
            T.StructField("val", T.DoubleType()), T.StructField("ver", T.LongType()),
            T.StructField("deleted", T.BooleanType()),
        ])
        run_incremental_ivm(
            self.ctx.spark, self.ivm["src"], self.ivm["table"], self.ivm["agg"],
            self.ivm["ckpt"], schema, ["k"], "ver", ["grp"], "val",
            n_buckets=self.n_buckets, tombstone_filter="deleted",
        )
        for row in pdf.itertuples(index=False):
            if row.deleted:
                self.ivm_model.pop(int(row.k), None)
            else:
                self.ivm_model[int(row.k)] = (row.grp, float(row.val))
        return len(pdf)

    def pass_ops(self, p: int) -> list[Op]:
        ops = self.kt.ops(self.batch)
        ops.insert(-2, Op("ivm_batch", "write", self._ivm_batch))
        return ops

    @property
    def user_bytes(self) -> int:
        return self.kt.user_bytes

    def check(self, records: list[dict]) -> None:
        from turnover_odata_etl_spark.storage import SnapshotTable

        for r in records:
            if r["ok"] is not None:
                continue
            res = r["result"]
            if isinstance(res, dict):
                got = res["got"].to_pandas()
                want = res["want"]()
                if r["name"] == "changes":
                    got = got[[LI_KEY, "_change_type"]]
                    want = want[[LI_KEY, "_change_type"]]
                r["ok"], r["why"] = same_result(got, want.reset_index(drop=True))
                r["rows"] = len(got)
            else:  # a write: its result is the rows it submitted
                r["ok"], r["why"] = True, ""
                r["rows"] = res
        got = self.kt.table.read().toPandas()
        ok, why = same_result(got, self.kt.model.reset_index(drop=True))
        records.append({"name": "final_state", "kind": "check", "ok": ok, "why": why})
        view = SnapshotTable.load(self.ctx.spark, self.ivm["agg"]).read().toPandas()
        got = {g: (int(n), round(float(v), 2))
               for g, n, v in zip(view["grp"], view["n_rows"], view["sum_value"])}
        want = {}
        for g, v in self.ivm_model.values():
            n, total = want.get(g, (0, 0.0))
            want[g] = (n + 1, total + v)
        want = {g: (n, round(t, 2)) for g, (n, t) in want.items()}
        ok = got == want
        records.append({"name": "ivm_view", "kind": "check", "ok": ok,
                        "why": "" if ok else "ivm aggregate differs from the keyed model"})

    def storage_tables(self) -> list:
        return [self.kt.table, self.kt.log]

    def live_bytes(self) -> int:
        return self.kt.live_bytes()


def _net_changes(before: pd.DataFrame, after: pd.DataFrame) -> pd.DataFrame:
    b, a = before.index, after.index
    ins = after.loc[a.difference(b)].assign(_change_type="insert")
    dele = before.loc[b.difference(a)].assign(_change_type="delete")
    both = a.intersection(b)
    cols = [c for c in after.columns]
    diff = (after.loc[both, cols] != before.loc[both, cols]).any(axis=1)
    upd = after.loc[both[diff.to_numpy()]].assign(_change_type="update")
    return pd.concat([ins, dele, upd])


WORKLOADS = {w.name: w for w in (ODataETL, SnapshotLifecycle)}
