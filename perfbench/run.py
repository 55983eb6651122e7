"""Benchmark of record for the turnover_odata_etl_spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload odata_etl --seed 1 --seconds 15 --trace 0

Stages seeded inputs, starts one Spark session on ``local[nproc]``
(plus, for ``odata_etl``, the OData stub in its own process), warms
up, runs whole passes of the workload's ops for about ``--seconds``
seconds, checks every op's output against an independent reference
outside the timed window, and prints one JSON result line last.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the Spark event log and span recording and reports per-layer metrics.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(b")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


T_PROC = process_start_time()

E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "read_p50_s": "s", "read_tail_s": "s",
    "write_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "space_amp": "ratio",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it, or the max
    when fewer than 20 samples put that percentile at or below the
    median: (value, percentile, n)."""
    v = sorted(values)
    n = len(v)
    k = n - 11 if n >= 20 else n - 1
    return v[k], (100.0 * k / (n - 1) if n > 1 else 100.0), n


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.results_dir = os.path.join(ROOT, ".perfbench", "results")
        self.spark = None
        self.tracer = None
        self.stub = None
        self.stub_url = None
        self.plan_phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0, "n": 0}

    def note_plan(self, df) -> None:
        """Add the df's Catalyst phase times (tracked by Spark's
        QueryPlanningTracker) inside the traced timed window."""
        if not self.tracer.enabled:
            return
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            for name in ("analysis", "optimization", "planning"):
                opt = phases.get(name)
                if opt is not None and opt.isDefined():
                    self.plan_phases[name] += opt.get().durationMs() / 1e3
            self.plan_phases["n"] += 1
        except Exception:  # a phase map is best-effort metadata
            pass


def configure_env(ctx: Ctx) -> str:
    """Point every scratch location of Spark, its workers and the
    engine inside the run's work dir; returns the event-log dir."""
    tmp = os.path.join(ctx.work, "tmp")
    evdir = os.path.join(ctx.work, "eventlog")
    for d in (tmp, evdir, os.path.join(ctx.work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(ctx.work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(ctx.work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(ctx.cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    confs = {
        # no hsperfdata under /tmp: the run writes only inside its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(ctx.work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if ctx.trace else "false",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp
    return evdir


def start_stub(ctx: Ctx) -> None:
    ctx.stub = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stub.py"), "--seed", str(ctx.seed)],
        stdout=subprocess.PIPE, text=True, cwd=ctx.work,
    )


def wait_stub(ctx: Ctx) -> None:
    line = ctx.stub.stdout.readline()
    if not line.startswith("READY"):
        raise RuntimeError(f"OData stub failed to start: {line!r}")
    ctx.stub_url = f"http://127.0.0.1:{int(line.split()[1])}"


def shutdown(ctx: Ctx) -> None:
    if ctx.stub is not None and ctx.stub.poll() is None:
        ctx.stub.terminate()
        try:
            ctx.stub.wait(timeout=20)
        except subprocess.TimeoutExpired:
            ctx.stub.kill()
            ctx.stub.wait()
    if ctx.spark is not None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            ctx.spark.stop()
        finally:
            ctx.spark = None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def run_ops(ctx, workload, passes: int, tracer, on_write=None) -> list[dict]:
    sc = ctx.spark.sparkContext
    records = []
    for p in range(passes):
        for op in workload.pass_ops(p):
            i = len(records)
            group = f"perfbench-op-{i}"
            sc.setJobGroup(group, f"{workload.name}:{op.name}#{i}")
            rec = {"i": i, "name": op.name, "kind": op.kind, "group": group,
                   "rows": op.rows, "storage_read": op.storage_read, "info": op.info,
                   "ok": None, "why": ""}
            t0 = time.time()
            try:
                with tracer.span(f"op.{op.name}", "op", op=group):
                    rec["result"] = op.fn()
            except Exception as e:  # an op that raised counts as failed
                rec["ok"], rec["why"] = False, f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            rec["t0"], rec["t1"] = t0, time.time()
            records.append(rec)
            if on_write is not None and op.kind == "write":
                on_write()
    sc.setJobGroup("perfbench-after", "after timed window")
    return records


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "turnover_odata_etl_spark", "__init__.py")):
        print(f"perfbench: no turnover_odata_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    ctx = Ctx(args)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.results_dir, exist_ok=True)
    evdir = configure_env(ctx)
    sys.path.insert(0, ROOT)

    import procmon
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](ctx)
    tracer = ctx.tracer = tracing.Tracer()
    try:
        if wl.needs_stub:
            start_stub(ctx)
        from turnover_odata_etl_spark.session import get_spark

        ctx.spark = get_spark(
            app_name=f"perfbench-{args.workload}", master=f"local[{ctx.cores}]",
            shuffle_partitions=ctx.cores,
        )
        if ctx.stub is not None:
            wait_stub(ctx)
        start_s = time.time() - T_PROC

        stage_s = []
        for rep in range(3):
            t0 = time.time()
            wl.stage(rep)
            stage_s.append(time.time() - t0)
        t0 = time.time()
        wl.warmup()
        warmup_s = time.time() - t0
        setup_s = start_s + statistics.median(stage_s) + warmup_s

        probe_before = procmon.host_probe(ctx.spark)
        wl.instrument(tracer)
        tracer.enabled = ctx.trace
        progress: list[dict] = []
        if ctx.trace:
            tracing.add_stream_listener(ctx.spark, progress)
        from turnover_odata_etl_spark.sources.odata_client import ODataClient

        # driver-side OData requests, for the bypass check
        tracer.wrap(ODataClient, "get_json", "sources", "odata.get_json")
        stub0 = wl.stats() if ctx.stub is not None else None
        store = StorageWatch(wl) if ctx.trace else None
        passes = max(1, round(args.seconds / wl.nominal_pass_s))
        sampler = procmon.TreeSampler(exclude={ctx.stub.pid} if ctx.stub else set())
        ticks0 = procmon.host_ticks()
        sampler.start()
        records = run_ops(ctx, wl, passes, tracer, on_write=store.scan if store else None)
        cpu_s, peak_rss = sampler.stop()
        ticks1 = procmon.host_ticks()
        steal_share = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
        stub1 = wl.stats() if ctx.stub is not None else None
        tracer.enabled = False
        persisted_after = ctx.spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        probe_after = procmon.host_probe(ctx.spark)

        t_check = time.time()
        try:
            wl.check(records)
        except Exception as e:  # a reference that cannot be compared is a failure
            traceback.print_exc(file=sys.stderr)
            for r in records:
                if r["ok"] is None:
                    r["ok"], r["why"] = False, f"check raised {type(e).__name__}: {e}"
        check_s = time.time() - t_check
        ops = [r for r in records if "t0" in r]
        window_s = max(r["t1"] for r in ops) - min(r["t0"] for r in ops)
        rows = sum(r["rows"] for r in ops if r["ok"])
        reads = [r["t1"] - r["t0"] for r in ops if r["kind"] == "read"]
        writes = [r["t1"] - r["t0"] for r in ops if r["kind"] == "write"]
        failed = sum(1 for r in records if not r["ok"])
        attempted = len(records)
        read_tail = tail(reads)
        write_tail = tail(writes)
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": rows / window_s,
            "read_p50_s": statistics.median(reads),
            "read_tail_s": read_tail[0],
            "write_p50_s": statistics.median(writes),
            "cpu_s": cpu_s / passes,
            "peak_rss_mb": peak_rss / 2**20,
            "space_amp": sum(workloads._du(d) for d in wl.table_dirs) / wl.live_bytes(),
        }
        detail = {
            "py_worker_cpu_s": sampler.py_cpu,
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": passes, "window_s": window_s, "check_s": check_s,
            "ops": attempted,
            "read_tail": {"percentile": read_tail[1], "n": read_tail[2]},
            "write_tail": {"value": write_tail[0], "percentile": write_tail[1],
                           "n": write_tail[2]},
            "setup": {"session_start_s": start_s, "stage_s": stage_s, "warmup_s": warmup_s},
            "host_probe": {"before": probe_before, "after": probe_after},
            "host_steal_share": steal_share,
            "e2e": e2e,
            "failures": [{"op": r["name"], "why": r["why"]} for r in records if not r["ok"]],
            "latencies": [(r["name"], r["kind"], round(r["t1"] - r["t0"], 4)) for r in ops],
        }
        correct = failed == 0
        if not ctx.trace:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
            with open(os.path.join(ctx.results_dir, f"{args.workload}-untraced.json"), "w") as f:
                json.dump(detail, f)
        else:
            per_layer, problems = layer_metrics(
                ctx, wl, tracer, records, passes, evdir, progress, stub0, stub1,
                persisted_after, probe_before, probe_after,
                start_s, warmup_s, e2e, detail, store,
            )
            detail["bypass_problems"] = problems
            if problems:
                correct = False
            metrics = per_layer
            tracing.write_spans(
                tracer, [{k: r.get(k) for k in ("i", "name", "kind", "group", "t0", "t1", "ok")}
                         for r in records if "t0" in r],
                os.path.join(ctx.results_dir, f"{args.workload}-s{args.seed}-spans.json"),
            )
        with open(os.path.join(ctx.results_dir,
                               f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump({**detail, "metrics": metrics}, f, indent=1, default=str)
        print(json.dumps(detail, default=str), file=sys.stderr)
        if ctx.spark is not None:
            shutdown(ctx)
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        tracer.restore()
        shutdown(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)


class StorageWatch:
    """Directory scans of the workload's table dirs after every write,
    so files written and later expired are still counted."""

    def __init__(self, wl):
        import workloads

        self.wl = wl
        self._files = workloads._files
        self.seen: dict[str, int] = {}
        for d in wl.table_dirs:
            self.seen.update(self._files(d))
        self.files_written = 0
        self.bytes_written = 0
        self.commits0 = self._commits()

    def _commits(self) -> int:
        return sum((t.current_id() or 0) for t in self.wl.storage_tables())

    def scan(self) -> None:
        for d in self.wl.table_dirs:
            for path, size in self._files(d).items():
                if path not in self.seen:
                    self.seen[path] = size
                    self.bytes_written += size
                    if f"{os.sep}data{os.sep}" in path:
                        self.files_written += 1


def layer_metrics(ctx, wl, tracer, records, passes, evdir, progress, stub0, stub1,
                  persisted_after, probe_before, probe_after,
                  start_s, warmup_s, e2e, detail, store):
    import tracing
    import workloads

    ops = [r for r in records if "t0" in r]
    out = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "etl.extract_s": tracer.total("etl.extract") / passes,
        "etl.sink_s": tracer.total("etl.sink_csv") / passes,
        "odata.fetch_tracked_s": tracer.total("odata.fetch_tracked") / passes,
        "odata.fetch_delta_s": tracer.total("odata.fetch_delta") / passes,
    }
    # OData stub counters over the timed window
    keys = ["requests", "requests.probe", "requests.discovery", "requests.data",
            "requests.delta", "rows_served", "bytes_served", "transient_503",
            "retries_seen", "stub_busy_s", "discovery_s"]
    for k in keys:
        delta = (stub1[k] - stub0[k]) if stub1 else 0
        out[f"odata.{k}"] = delta / passes
    if not stub1:  # no stub: count the driver's own requests, expected none
        out["odata.requests"] = sum(
            1 for sp in tracer.spans if sp["name"] == "odata.get_json") / passes
    served = (stub1["rows_served"] - stub0["rows_served"]) if stub1 else 0
    useful = (stub1["data_rows_served"] - stub0["data_rows_served"]) if stub1 else 0
    out["odata.useful_row_ratio"] = useful / served if served else 0.0
    out["odata.inflight_max"] = float(stub1["inflight_max"]) if stub1 else 0.0
    out["odata.inflight_mean"] = float(stub1["inflight_mean"]) if stub1 else 0.0
    # Catalyst
    builds = [s for s in tracer.spans if s["name"] == "plan.build" and s["t1"]]
    out["plan.build_s"] = (sum(s["t1"] - s["t0"] for s in builds) / len(builds)) if builds else 0.0
    n = max(ctx.plan_phases["n"], 1)
    for k in ("analysis", "optimization", "planning"):
        out[f"plan.{k}_s"] = ctx.plan_phases[k] / n
    # storage
    storage_spans = [s for s in tracer.spans if s["layer"] == "storage" and s["t1"]]
    by_id = {s["id"]: s for s in tracer.spans}
    commit_s = sum(
        s["t1"] - s["t0"] for s in storage_spans
        if not s["name"].startswith("storage.read")
        and (s["parent"] is None or by_id[s["parent"]]["layer"] != "storage")
    )
    resolve = [
        s["t1"] - s["t0"] for s in storage_spans
        if s["name"].startswith("storage.read.")
        and (s["parent"] is None or by_id[s["parent"]]["layer"] != "storage")
    ]
    tables = wl.storage_tables()
    out["storage.commits"] = (store._commits() - store.commits0) / passes
    out["storage.files_written"] = store.files_written / passes
    out["storage.bytes_written"] = store.bytes_written / passes
    out["storage.files_live"] = float(sum(len(t.files()) for t in tables))
    out["storage.manifest_bytes"] = float(sum(
        workloads._du(os.path.join(d, "manifests")) for d in wl.table_dirs))
    out["storage.commit_s"] = commit_s / passes
    out["storage.read_resolve_s"] = statistics.mean(resolve) if resolve else 0.0
    user_bytes = getattr(wl, "user_bytes", 0)
    out["storage.write_amp"] = store.bytes_written / user_bytes if user_bytes else 0.0
    # streaming
    out.update(tracing.stream_metrics(progress, passes))
    out["write_tail_s"] = detail["write_tail"]["value"]
    out["fail_ratio"] = sum(1 for r in records if not r["ok"]) / len(records)
    out["host.probe_jvm_s"] = probe_before["jvm_s"]
    out["host.probe_gemm_s"] = probe_before["gemm_s"]
    out["host.drift_ratio"] = (probe_after["jvm_s"] + probe_after["gemm_s"]) / (
        probe_before["jvm_s"] + probe_before["gemm_s"])
    out["host.steal_share"] = detail["host_steal_share"]
    out["exec.persisted_rdds_after"] = float(persisted_after)
    out["py.worker_cpu_s"] = detail["py_worker_cpu_s"] / passes
    untraced = os.path.join(ctx.results_dir, f"{wl.name}-untraced.json")
    base = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["e2e"]["read_p50_s"]
    out["trace.overhead_ratio"] = e2e["read_p50_s"] / base if base else 0.0
    # event log (after stop so the log is complete)
    shutdown(ctx)
    log = tracing.read_event_log(evdir)
    out.update(tracing.exec_metrics(log, ops, passes))
    detail["self_s_by_layer"] = tracer.self_time_by_layer()
    problems = []
    if wl.name != "odata_etl" and out["odata.requests"] > 0:
        problems.append(f"{wl.name} made OData requests")
    if wl.name == "odata_etl" and out["odata.requests.data"] <= 0:
        problems.append("odata_etl served no data pages")
    if wl.name == "snapshot_lifecycle" and out["storage.commits"] <= 0:
        problems.append("snapshot_lifecycle committed nothing")
    if wl.name == "snapshot_lifecycle" and out["stream.batches"] <= 0:
        problems.append("snapshot_lifecycle ran no streaming micro-batch")
    units = layer_units()
    return {k: {"value": float(out[k]), "unit": units[k]} for k in units}, problems


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
