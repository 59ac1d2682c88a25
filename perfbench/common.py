"""Run context shared by the workloads: timing, correctness accounting,
state-directory byte accounting, peak-RSS sampling and provenance."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
from contextlib import contextmanager


class Phase:
    wall = 0.0
    cpu = 0.0
    ginstr = 0.0


class Ctx:
    def __init__(self, root: str, work: str, seed: int, seconds: int,
                 tracer, cores: int, heap: str, instructions):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.heap = heap
        self.instructions = instructions
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.detail: dict = {}
        self.observed: dict[str, float] = {}
        self.input_checksum = None
        self.phases: dict[str, list[Phase]] = {}

    @contextmanager
    def timed(self, name: str):
        """A measured phase. Yields a ``Phase`` whose ``wall``, ``cpu``
        (CPU-seconds of this process and every process under it) and
        ``ginstr`` (10^9 instructions retired by the same processes, see
        ``pmu``) are set on exit; each phase is also kept in
        ``phases[name]``. Its span
        bounds ``driver.gap_s`` and the engine's busy fraction in traced
        runs."""
        ph = Phase()
        # the /proc walks of tree_cpu_s stay outside the counted interval
        c0 = tree_cpu_s()
        i0, t0 = self.instructions.read(), time.perf_counter()
        with self.tracer.span(f"bench.timed.{name}"):
            yield ph
        ph.wall = time.perf_counter() - t0
        ph.ginstr = (self.instructions.read() - i0) / 1e9
        ph.cpu = tree_cpu_s() - c0
        self.phases.setdefault(name, []).append(ph)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


# --------------------------------------------------------------------------
# bytes under state directories
# --------------------------------------------------------------------------


def snapshot(paths: list[str]) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} for every data file under ``paths``
    (checksum sidecars excluded)."""
    out = {}
    for top in paths:
        for root, _dirs, files in os.walk(top):
            for f in files:
                if f.endswith(".crc"):
                    continue
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that appeared or changed between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def total_bytes(snap: dict) -> int:
    return sum(sz for sz, _mt in snap.values())


# --------------------------------------------------------------------------
# peak RSS of the JVM and its Python workers
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _stat_fields(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU-seconds used so far by this process and every process under it
    (the JVM, its Python workers), reaped descendants included: user +
    system time of each live process plus the reaped children it waited
    for. Time the host takes the CPU away (steal) or spent waiting for I/O
    is not CPU time."""
    kids = _children()
    todo, ticks = [os.getpid()], 0
    while todo:
        p = todo.pop()
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
        todo += kids.get(p, [])
    return ticks / _TICK


class RssSampler:
    """Samples the summed RSS of the JVM and the Python workers under it
    every ``interval`` seconds; keeps the peak. Other descendants (the
    short-lived helpers the JVM spawns) are skipped: between fork and
    exec such a child reports the JVM's whole RSS again."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        todo, total = [self.pid], 0
        while todo:
            p = todo.pop()
            if p == self.pid or _comm(p).startswith("python"):
                total += _rss_kb(p)
            todo += kids.get(p, [])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# host and provenance
# --------------------------------------------------------------------------


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_for_host() -> str:
    """Driver heap from host RAM: an eighth of MemTotal, clamped to
    [1, 8] GiB. local mode runs every task in this one JVM."""
    gib = mem_total_bytes() / (1 << 30)
    return f"{int(max(1.0, min(8.0, gib / 8)) * 1024)}m"


def source_digest(root: str) -> str:
    """sha256 over the package's Python sources: identifies the program
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "eea_crawler_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith((".py", ".json")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def host_block(ctx: Ctx) -> dict:
    import pyspark

    java = None
    if ctx.spark is not None:
        java = ctx.spark.sparkContext._jvm.System.getProperty("java.version")
    return {
        "nproc": ctx.cores,
        "mem_total_mb": mem_total_bytes() // (1 << 20),
        "driver_heap": ctx.heap,
        "master": f"local[{ctx.cores}]",
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "commit": git_commit(ctx.root),
        "source_digest": source_digest(ctx.root),
        "seed": ctx.seed,
        "input_checksum": ctx.input_checksum,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
