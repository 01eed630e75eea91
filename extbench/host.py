"""Host record, run lock and child-process plumbing for the benchmark.

Raw walls from different hosts are never comparable, so every result carries
the cpu count, versions and a hardware-probe score.  The lock plus the check
for foreign Spark JVMs keeps two Spark applications from sharing the host
while timing is under way.
"""

from __future__ import annotations

import fcntl
import os
import platform
import signal
import subprocess
import sys
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_BURN = "s=0\nfor _ in range({n}): s+=1\n"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def hw_probe(procs: int, n: int = 5_000_000) -> float:
    """Aggregate pure-Python loop iterations/s with *procs* busy processes.

    Same probe as ``BENCH/run_scaling.py:hw_probe`` (the host's ceiling for
    any process-parallel scale-up), run as plain child interpreters.
    """
    t0 = time.perf_counter()
    kids = [
        subprocess.Popen([sys.executable, "-c", _BURN.format(n=n)])
        for _ in range(procs)
    ]
    for k in kids:
        k.wait()
    return procs * n / (time.perf_counter() - t0)


def host_record() -> dict:
    import pyspark

    n = cpus()
    one = hw_probe(1)
    alln = hw_probe(n)
    return {
        "cpus": n,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "hw_probe_1proc_ops_s": round(one),
        "hw_probe_allproc_ops_s": round(alln),
        "hw_probe_ceiling": round(alln / (n * one), 4),
    }


def _proc_table() -> dict[int, tuple[int, int, str, int]]:
    """pid → (ppid, rss_kb, cmdline, starttime) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read().rsplit(b")", 1)[1].split()
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if stat[0] in (b"Z", b"X"):
            continue
        out[int(name)] = (int(stat[1]), int(stat[21]) * PAGE_KB, cmd, int(stat[19]))
    return out


def process_tree(root: int, table) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def foreign_spark_apps() -> list[int]:
    """Pids of Spark JVMs that are not descendants of this process."""
    table = _proc_table()
    me = os.getpid()
    found = []
    for pid, (_ppid, _rss, cmd, _start) in table.items():
        if "org.apache.spark.deploy.SparkSubmit" not in cmd:
            continue
        p = pid
        while p in table and p not in (me, 0, 1):
            p = table[p][0]
        if p != me:
            found.append(pid)
    return found


class RunLock:
    """Exclusive lock over timing: one bench, one Spark application."""

    def __init__(self, path: str, wait_s: float = 10.0):
        self.path = path
        self.wait_s = wait_s
        self.fh = None

    def __enter__(self):
        self.fh = open(self.path, "w")
        deadline = time.monotonic() + self.wait_s
        while True:
            try:
                fcntl.flock(self.fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise RuntimeError("another benchmark run holds the lock")
                time.sleep(0.5)
        while foreign_spark_apps():
            if time.monotonic() > deadline:
                self.__exit__(None, None, None)
                raise RuntimeError(
                    f"foreign Spark applications running: {foreign_spark_apps()}"
                )
            time.sleep(0.5)
        return self

    def __exit__(self, *exc):
        if self.fh is not None:
            fcntl.flock(self.fh, fcntl.LOCK_UN)
            self.fh.close()
            self.fh = None


class Child:
    """A child process in its own process group, with peak tree-RSS sampling.

    The sampler remembers every descendant it sees; ``wait`` enforces a
    deadline and then kills and waits out all of them, so no JVM or Python
    worker outlives the run (PySpark's daemon leaves the child's process
    group, so killing the group alone is not enough).
    """

    def __init__(self, argv, env, stdout_path: str, cwd: str):
        self.launch = time.time()
        self._out = open(stdout_path, "wb")
        self.proc = subprocess.Popen(
            argv,
            env=env,
            cwd=cwd,
            stdout=self._out,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.peak_rss_kb = 0
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self):
        while not self._stop.is_set():
            table = _proc_table()
            tree = process_tree(self.proc.pid, table)
            for pid in tree:
                self.seen.setdefault(pid, table[pid][3])
            self.peak_rss_kb = max(self.peak_rss_kb, sum(table[p][1] for p in tree))
            self._stop.wait(0.2)

    def wait(self, timeout: float) -> tuple[int | None, float]:
        """(exit code or None on timeout, exit wall clock as epoch seconds)."""
        try:
            code = self.proc.wait(timeout=max(timeout, 0.1))
        except subprocess.TimeoutExpired:
            code = None
        finally:  # also when a signal ends the benchmark mid-wait
            end = time.time()
            self._stop.set()
            self._sampler.join()
            self._kill_all()
            self.proc.wait()
            self._out.close()
        return code, end

    def _alive(self) -> list[int]:
        table = _proc_table()
        pids = set(process_tree(self.proc.pid, table))
        pids.update(p for p, st in self.seen.items() if p in table and table[p][3] == st)
        pids.update(p for p in table if _pgid(p) == self.proc.pid)
        pids.discard(os.getpid())
        return sorted(pids)

    def _kill_all(self):
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline:
            alive = [p for p in self._alive() if p != self.proc.pid or self.proc.poll() is None]
            if not alive:
                return
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        raise RuntimeError(f"child processes did not exit: {self._alive()}")


def _pgid(pid: int) -> int | None:
    try:
        return os.getpgid(pid)
    except ProcessLookupError:
        return None
