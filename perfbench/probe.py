"""Process-tree and machine readings from /proc, and process teardown.

A pass is charged with the CPU time and memory of every process the
benchmark started: its own process, the Spark JVM it launched and the Python
workers under that JVM.  The readings come from /proc, so they need no
cooperation from those processes.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (which may
    hold spaces): index 0 is the state, 1 the parent pid, 11-14 utime,
    stime, cutime and cstime, 19 the start time, 21 the resident pages.
    None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant, by pid."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _threads(pid: int) -> dict[int, tuple[str, list[str]]]:
    """Name and stat fields (as :func:`_stat_fields` splits them) of every
    live thread of ``pid``, by thread id."""
    out: dict[int, tuple[str, list[str]]] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        close = text.rindex(")")
        out[int(tid)] = (text[text.index("(") + 1 : close], text[close + 2 :].split())
    return out


# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; /proc truncates names to 15 characters.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class TreeSampler:
    """Samples the tree on a thread while the ``with`` block runs.

    ``peak_rss`` is the largest summed RSS seen, in bytes.  The JVM starts
    helper commands (Hadoop's local file system shells out) with
    posix_spawn; until such a child execs it shares the JVM's address
    space and reports the JVM's RSS.  A child of the JVM is therefore
    counted only once its executable is no longer the JVM's, and its RSS
    is read after its executable, so one that execs in between is not
    counted with the JVM's pages.

    ``cpu_s`` is user plus system CPU seconds: for every process seen,
    its own time at the last sample minus its time at the first (zero if
    it started inside the block).  A process's own time is read rather
    than its reaped children's, because Python workers can exit without
    their time reaching a live ancestor; a process that exits loses at
    most its last interval.  Processes are told apart by pid and start
    time, so a reused pid does not subtract one process's time from
    another's.

    The JVM's JIT compiler threads are left out of ``cpu_s`` and counted
    in ``jit_cpu_s`` instead, the same way, thread by thread.  Their work
    is warm-up that tails off over many passes and lands at different
    times in different runs; a long-running job amortises it to nothing."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.peak_rss = 0
        self._root = root
        self._interval_s = interval_s
        self._first: dict[tuple, int] = {}
        self._last: dict[tuple, int] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _delta_s(self, jit: bool) -> float:
        ticks = sum(
            t - self._first.get(key, 0) for key, t in self._last.items() if (key[0] == "jit") == jit
        )
        return ticks / _TICK

    @property
    def cpu_s(self) -> float:
        return self._delta_s(jit=False) - self.jit_cpu_s

    @property
    def jit_cpu_s(self) -> float:
        return self._delta_s(jit=True)

    def _count(self, key: tuple, fields: list[str], first: bool) -> None:
        """Record the CPU ticks of one process or thread; ``key`` holds its
        start time (field 19) so a reused id counts as new."""
        ticks = int(fields[11]) + int(fields[12])
        if first:
            self._first[key] = ticks
        self._last[key] = ticks

    def _sample(self, first: bool = False) -> None:
        tree = _tree(self._root)
        java = {pid for pid in tree if os.path.basename(_exe(pid)) == "java"}
        pages = 0
        for pid, f in tree.items():
            self._count(("proc", pid, f[19]), f, first)
            if pid in java:
                for tid, (name, t) in _threads(pid).items():
                    if name in _JIT_THREADS:
                        self._count(("jit", tid, t[19]), t, first)
            if int(f[1]) in java:
                # Read again, after its executable: see the class docstring.
                f = None if pid in java else _stat_fields(pid)
            if f is not None:
                pages += int(f[21])
        self.peak_rss = max(self.peak_rss, pages * _PAGE)

    def _run(self) -> None:
        while not self._done.wait(self._interval_s):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._sample(first=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join()
        self._sample()


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, idle, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), vals[3] + vals[4], steal


def machine_context(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict:
    """What the machine did between two :func:`cpu_jiffies` readings, so
    that an unsteady pass can be put down to a neighbour or to the engine."""
    cpus = os.cpu_count() or 1
    total = after[0] - before[0]
    idle = after[1] - before[1]
    steal = after[2] - before[2]
    return {
        "cpus": cpus,
        "load1": os.getloadavg()[0],
        "busy_cores": cpus * (1 - idle / total) if total else -1.0,
        "steal_frac": steal / total if total else -1.0,
    }


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, then wait until
    every process started under this one has ended.

    The JVM exits when its stdin closes; the Python workers under it
    exit when the JVM does.  They are listed before the JVM goes,
    because its orphans leave this process's tree."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [pid for pid in _tree(me) if pid != me]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(pid) for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
