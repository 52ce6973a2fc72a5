"""Per-run sandbox, memory readings and box record."""

from __future__ import annotations

import gc
import os
import platform
import re
import shutil
import select
import subprocess
import sys
import tempfile
import time


class Sandbox:
    """A per-run directory for everything the engine leaves on disk.

    ``TMPDIR`` (and Python's cached ``tempfile.tempdir``) point at
    ``tmp/``, so builders' ``tempfile.mkdtemp`` snapshots land here;
    ``SPARK_LOCAL_DIRS`` points at ``local/`` for shuffle and checkpoint
    blocks; ``warehouse/`` and ``derby/`` take Spark's warehouse and
    Derby files. ``jvm.log`` takes the driver JVM's log line that gives
    its heap's address range. ``close`` removes the lot.
    """

    def __init__(self, parent: str) -> None:
        os.makedirs(parent, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=parent)
        self.tmp, self.local, self.warehouse, self.derby = (
            os.path.join(self.root, d) for d in ("tmp", "local", "warehouse", "derby")
        )
        self.jvm_log = os.path.join(self.root, "jvm.log")
        for d in (self.tmp, self.local, self.warehouse, self.derby):
            os.makedirs(d)
        self._saved = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS")}
        self._saved_tempdir = tempfile.tempdir
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp

    def spark_conf(self) -> dict[str, str]:
        return {"spark.sql.warehouse.dir": self.warehouse}

    def java_options(self) -> str:
        return (
            f"-Dderby.system.home={self.derby} -Djava.io.tmpdir={self.tmp}"
            f" -Xlog:gc+heap+coops=debug:file={self.jvm_log}"
        )

    def written(self) -> tuple[int, int]:
        """(bytes, files) currently under tmp/ and warehouse/."""
        size = files = 0
        for top in (self.tmp, self.warehouse):
            for dirpath, _, names in os.walk(top):
                for n in names:
                    try:
                        size += os.path.getsize(os.path.join(dirpath, n))
                        files += 1
                    except OSError:  # removed while walking
                        pass
        return size, files

    def close(self) -> None:
        for k, v in self._saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = self._saved_tempdir
        shutil.rmtree(self.root, ignore_errors=True)


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:  # process or thread ended between listing and reading
        pass
    return kids


_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / float(1 << 20)


def family(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def rss_mb(pids: list[int]) -> float:
    """Summed resident memory of ``pids``, in MB (2^20 bytes)."""
    pages = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:  # ended since the family was listed
            pass
    return pages * _PAGE_MB


_TICK = float(os.sysconf("SC_CLK_TCK"))


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, own and reaped children) of ``pids``.
    Time the hypervisor steals from the machine is not in it."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since the family was listed
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


_HEAP = re.compile(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB")


def heap_range(jvm_log: str) -> tuple[int, int]:
    """(first byte, size) of the Java heap's address range, from the JVM's log."""
    with open(jvm_log) as f:
        m = _HEAP.search(f.read())
    return int(m.group(1), 16), int(m.group(2)) << 20


def heap_rss_mb(pid: int, heap: tuple[int, int]) -> float:
    """Resident memory of ``pid``'s mappings inside the heap range."""
    lo, hi = heap[0], heap[0] + heap[1]
    kb, inside = 0, False
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            if line.startswith("Rss:"):
                if inside:
                    kb += int(line.split()[1])
            elif "-" in line[:33] and not line[0].isupper():
                start, end = line.split(None, 1)[0].split("-")
                inside = lo <= int(start, 16) and int(end, 16) <= hi
    return kb / 1024


# between two memory samples; reading the JVM's smaps costs ~20 ms of CPU
SAMPLE_S = 0.5


class OffHeapSampler:
    """Samples, every SAMPLE_S seconds from construction to ``stop``, the
    resident memory of the JVM ``pid`` outside its heap plus that of its
    Python daemon and workers; ``stop`` returns the peak.
    It runs as a child process, so it takes neither the driver's GIL nor
    its CPU time; leave ``self.pid`` out of the driver's process family."""

    def __init__(self, pid: int, heap: tuple[int, int]) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(pid), str(heap[0]), str(heap[1])],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.pid = self._proc.pid

    def stop(self) -> float:
        out, _ = self._proc.communicate(timeout=30)  # closing stdin ends the sampling
        return float(out)


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:  # ended since the family was listed
        return False


def _sample_until_stdin_closes(pid: int, heap: tuple[int, int]) -> float:
    peak = 0.0
    while True:
        # the JVM's other children are forks on their way to exec a shell
        # command, whose resident size is a copy of the JVM's
        workers = [p for p in family(pid)[1:] if _is_python(p)]
        try:
            peak = max(peak, rss_mb([pid, *workers]) - heap_rss_mb(pid, heap))
        except OSError:  # the JVM is exiting
            pass
        if select.select([0], [], [], SAMPLE_S)[0] and not os.read(0, 1):
            return peak


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings: a noisy-box flag for the artifact."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


# between two full GCs while waiting for the heap to settle
SETTLE_S = 0.25


def live_heap_mb(jvm) -> float:
    """The driver JVM's heap in use, in MB, once nothing more is freed.

    Right after a query, a full GC still finds its broadcasts and shuffle
    state reachable: Spark's ContextCleaner drops them from its own thread
    only after a GC has cleared their weak references, which takes one to
    three collections, and until then successive readings can agree. So
    full GCs (``System.gc()``, which G1 runs as a full collection) repeat,
    SETTLE_S apart, for at least five readings and until the last three
    agree within 1 MB; at most twelve."""
    gc.collect()  # drop Python's proxies of JVM objects first
    runtime = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    while len(readings) < 12:
        jvm.java.lang.System.gc()
        readings.append((runtime.totalMemory() - runtime.freeMemory()) / float(1 << 20))
        if len(readings) >= 5 and max(readings[-3:]) - min(readings[-3:]) <= 1:
            break
        time.sleep(SETTLE_S)
    return readings[-1]


def box_record(spark, nproc: int) -> dict[str, object]:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


if __name__ == "__main__":
    pid, base, size = (int(a) for a in sys.argv[1:4])
    print(_sample_until_stdin_closes(pid, (base, size)), flush=True)
