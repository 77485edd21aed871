"""Host fingerprint and process-tree memory, read from /proc and the JVM.

The fingerprint explains outliers (a loaded or stolen-from host); it gates
nothing.  Memory is read from /proc because psutil is not available.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import platform
import signal
import sys
import threading
import time

PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
JVM_EXIT_TIMEOUT_S = 30  # a stopped context's JVM exits in well under a second
REAP_GRACE_S = 10  # then SIGTERM, then SIGKILL after as long again


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq softirq steal."""
    return [int(x) for x in _read("/proc/stat").split("\n", 1)[0].split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def loadavg() -> float:
    return float(_read("/proc/loadavg").split()[0])


def fingerprint(spark) -> dict:
    mem_kib = next(
        int(line.split()[1]) for line in _read("/proc/meminfo").splitlines()
        if line.startswith("MemTotal:")
    )
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "mem_total_mib": mem_kib // 1024,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            out += [int(c) for c in _read(f"/proc/{pid}/task/{tid}/children").split()]
    except OSError:  # the process exited between listing and reading
        pass
    return out


def _status_kib(pid: int, field: str) -> int:
    try:
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:  # the process has exited
        pass
    return 0


def _pss_kib(pid: int) -> int:
    try:
        for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:  # the process has exited
        pass
    return 0


def python_workers_pss_kib(root_pid: int) -> int:
    """Summed proportional set size of the Python processes below ``root_pid``
    (the PySpark daemon and its workers).  PSS splits the pages a forked
    worker shares with the daemon instead of counting them once per process;
    other children (the JVM forks short-lived helpers) are skipped, since
    before their exec they show the whole JVM's RSS."""
    total, stack = 0, _children(root_pid)
    while stack:
        pid = stack.pop()
        try:
            is_python = _read(f"/proc/{pid}/comm").startswith("python")
        except OSError:
            continue
        if is_python:
            total += _pss_kib(pid)
        stack += _children(pid)
    return total


def _process_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, one-letter state, start time) of every process in
    /proc.  Parent links are read from each process's own ``stat`` rather than
    from its parent's ``children`` list, which the kernel documents as
    possibly incomplete while processes are being created or ending."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _read(f"/proc/{entry}/stat").rsplit(")", 1)[1].split()
        except (OSError, IndexError):  # the process ended while being listed
            continue
        table[int(entry)] = (int(fields[1]), fields[0], int(fields[19]))
    return table


def _descendants(root: int, table: dict[int, tuple[int, str, int]]) -> dict[int, int]:
    """pid -> start time of every process below ``root`` in ``table``."""
    below: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        below.setdefault(ppid, []).append(pid)
    out, stack = {}, list(below.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = table[pid][2]
        stack += below.get(pid, [])
    return out


def _reap_exited() -> bool:
    """Collect the exit status of every child that has ended (no zombies);
    True while this process still has a child."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def end_with_parent() -> None:
    """``preexec_fn`` for a child process: SIGTERM it when this process ends,
    even by SIGKILL, so its clean-up runs instead of its work."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)


def stop_jvm() -> None:
    """End the py4j gateway JVM that PySpark started in this process, and wait
    for it.  ``SparkSession.stop`` leaves it running until this process exits;
    it then exits on its own, but only after this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    with contextlib.suppress(Exception):  # the gateway may already be gone
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(JVM_EXIT_TIMEOUT_S)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_descendants(known: dict[int, int], grace_s: float = REAP_GRACE_S) -> None:
    """Wait until every process started below this one has ended: a grace
    period, then SIGTERM, then SIGKILL.

    Two records cover each other.  ``known`` (pid -> start time, taken before
    the JVM was stopped) holds the JVM's descendants, such as the PySpark
    daemon and its workers, whatever they are re-parented to.  And as child
    subreaper (``owned_processes``) this process becomes the parent of every
    orphan below it, so it has no descendant left exactly when ``waitpid``
    finds no child at all."""
    me = os.getpid()
    tracked = dict(known)
    t0 = time.monotonic()
    sent: dict[int, int] = {}
    while True:
        has_child = _reap_exited()
        table = _process_table()
        tracked.update(_descendants(me, table))
        alive = [p for p, start in tracked.items()
                 if p in table and table[p][2] == start and table[p][1] != "Z"]
        if not alive and not has_child:
            return
        waited = time.monotonic() - t0
        if waited > 3 * grace_s:
            print(f"perfbench: processes {alive} did not end", file=sys.stderr)
            return
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        for pid in alive:
            if sig is not None and sent.get(pid) != sig:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
                sent[pid] = sig
        time.sleep(0.05)


@contextlib.contextmanager
def owned_processes():
    """Every process started inside the block, and every process those start,
    has ended when the block is left, on every path out of it (SIGTERM, SIGHUP
    or SIGINT to this process included).  This process becomes a child
    subreaper, so descendants whose parent ends are re-parented to it rather
    than to init and are waited for as well."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl(PR_SET_CHILD_SUBREAPER) failed: {os.strerror(ctypes.get_errno())}",
              file=sys.stderr)
    handled = (signal.SIGTERM, signal.SIGHUP)
    previous = {s: signal.signal(s, lambda signum, _: sys.exit(128 + signum)) for s in handled}
    try:
        yield
    finally:
        for s in handled:  # a second signal must not cut the clean-up short
            signal.signal(s, signal.SIG_IGN)
        known = _descendants(os.getpid(), _process_table())
        try:
            if "pyspark" in sys.modules:
                stop_jvm()
        finally:
            reap_descendants(known)
            for s, handler in previous.items():
                signal.signal(s, handler)


class PeakRss:
    """Peak memory the program controls, in the driver JVM and its Python workers.

    The heap is pre-touched at a fixed size, so the JVM's high-water mark
    (VmHWM) holds that whole heap whatever the program does with it.  The
    figure is therefore made of three parts the program does move:

    - native: VmHWM minus the committed (pre-touched) heap — metaspace, code
      cache, thread stacks, direct and Arrow buffers;
    - heap: the summed peak use (MemoryPoolMXBean, reset when the measurement
      starts) of the heap pools that hold what survives a young collection
      or is too large for one — old generation and survivors: collected
      results, broadcasts, cached frames.  Eden is left out: its peak is the
      fixed young generation's size, whatever the program keeps;
    - workers: the sampled (0.1 s) peak of the Python workers' summed PSS.
    """

    def __init__(self, jvm, jvm_pid: int, interval_s: float = 0.1):
        self.jvm = jvm
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.workers_kib = 0
        self.native_kib = 0
        self.heap_pools_kib: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _heap_pools(self) -> list:
        mf = self.jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def _run(self) -> None:
        while not self._stop.is_set():
            self.workers_kib = max(self.workers_kib, python_workers_pss_kib(self.jvm_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        heap = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.native_kib = _status_kib(self.jvm_pid, "VmHWM") - heap.getCommitted() // 1024
        self.heap_pools_kib = {p.getName(): p.getPeakUsage().getUsed() // 1024 for p in self._heap_pools()}

    @property
    def heap_kib(self) -> int:
        return sum(kib for name, kib in self.heap_pools_kib.items() if "Eden" not in name)

    @property
    def peak_mib(self) -> float:
        return (self.native_kib + self.heap_kib + self.workers_kib) / 1024.0
