"""Process-tree CPU/RSS sampling from ``/proc`` and the host probe.

The tree is this process and every descendant (the JVM and its Python
workers), minus the pids given in ``exclude`` and their descendants
(the OData stub). CPU time of a descendant that already exited is
still counted: it lands in its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import ctypes
import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def _shares_vm(a: int, b: int) -> bool:
    """Whether two processes share one address space. The JVM starts
    helper processes with posix_spawn (a vfork): until the child execs,
    /proc shows it with the JVM's whole footprint, and PSS cannot split
    pages that are mapped once, so summing both counts the JVM twice."""
    if _SYS_KCMP is None:
        return False
    return _libc.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _stat(pid: int):
    """(ppid, cpu_ticks including reaped children, rss_bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index(b"(") + 1:raw.rindex(b")")].decode(errors="replace")
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is state (field 3); utime is field 14 -> index 11
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks, int(fields[21]) * _PAGE, comm


_HAVE_ROLLUP = os.path.exists("/proc/self/smaps_rollup")


def _pss(pid: int, rss: int) -> int:
    """Proportional set size: shared pages split among their sharers, so
    forked Python workers are not counted once per fork. A process that
    exited since ``rss`` was read (or is a zombie) has no Pss line and
    counts 0: its stale RSS may be the whole JVM image it was spawned
    from. Without smaps_rollup (kernels before 4.14) RSS is used."""
    if not _HAVE_ROLLUP:
        return rss
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(root: int, exclude: set[int]) -> tuple[float, int, float]:
    """(cpu seconds, PSS bytes, cpu seconds of the Python workers)
    summed over ``root``'s process tree; a Python worker is any python
    process below the root (the driver itself is not one)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu, rss, py, stack = 0, 0, 0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in procs:
            continue
        ppid, ticks, r, comm = procs[pid]
        cpu += ticks
        if pid == root or not _shares_vm(ppid, pid):
            rss += _pss(pid, r)
        if pid != root and comm.startswith("python"):
            py += ticks
        stack.extend(children.get(pid, ()))
    return cpu / _TICK, rss, py / _TICK


class TreeSampler:
    """Samples the tree every ``interval`` seconds between start/stop;
    ``stop()`` returns CPU seconds and peak memory (PSS) over the span."""

    def __init__(self, exclude: set[int] | None = None, interval: float = 0.1):
        self.root = os.getpid()
        self.exclude = exclude or set()
        self.interval = interval
        self._stop = threading.Event()
        self._thread = None
        self.peak_rss = 0

    def _loop(self):
        while not self._stop.wait(self.interval):
            _, rss, _ = tree_usage(self.root, self.exclude)
            self.peak_rss = max(self.peak_rss, rss)

    def start(self):
        self.cpu0, rss, self.py0 = tree_usage(self.root, self.exclude)
        self.peak_rss = rss
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, int]:
        self._stop.set()
        self._thread.join()
        cpu1, rss, py1 = tree_usage(self.root, self.exclude)
        self.peak_rss = max(self.peak_rss, rss)
        self.py_cpu = py1 - self.py0
        return cpu1 - self.cpu0, self.peak_rss


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host from /proc/stat: the
    share the hypervisor gave to other guests during a span."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_probe(spark) -> dict:
    """Fixed-size JVM range aggregate plus a numpy GEMM, each the median
    of three timings. Stamped before and after every run so host drift
    shows beside the numbers."""
    import numpy as np

    def median3(fn):
        for _ in range(3):  # untimed: JIT and caches
            fn()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return sorted(ts)[1]

    rng = np.random.default_rng(0)
    a = rng.standard_normal((256, 256))
    jvm = median3(
        lambda: spark.range(0, 2_000_000, 1, 4)
        .selectExpr("sum(id % 7) as s", "max(id * 3) as m")
        .collect()
    )
    gemm = median3(lambda: [a @ a for _ in range(8)])
    return {"jvm_s": jvm, "gemm_s": gemm}
