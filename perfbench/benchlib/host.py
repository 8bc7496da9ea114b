"""Host and build fingerprint, load readings and peak memory from /proc."""

from __future__ import annotations

import hashlib
import os
import subprocess


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the ``steal`` column of /proc/stat; 0 on bare metal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...; comm keeps 15 chars)
_JIT_THREAD = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_cpu_s(path: str, reaped: bool) -> float:
    """utime + stime (and with ``reaped`` the reaped children's) from a
    /proc stat file, in seconds; 0 when it is gone."""
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15 if reaped else 13]) / _TICK


def _jit_threads(pid: int) -> dict[str, float]:
    """CPU seconds of each live JIT compiler thread of a process, by tid."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(_JIT_THREAD):
                    continue
        except OSError:
            continue
        out[f"{pid}/{tid}"] = _stat_cpu_s(f"/proc/{pid}/task/{tid}/stat", False)
    return out


class CpuClock:
    """CPU seconds spent by this process and every process under it -- the
    driver, the Spark JVM and its Python workers -- leaving out the JVM's JIT
    compiler threads.

    The kernel keeps time the hypervisor stole out of these counts, so unlike
    a wall time they do not grow when other guests take the host's CPUs or
    delay a hand-off between threads.  JIT compilation is the JVM warming up,
    not work of the pass: it runs on its own threads, in bursts that land on
    whichever pass is current, long after the pass's own cost has settled.
    A compiler thread that ends between two readings leaves its CPU in the
    process total, so the run keeps them alive (see ``run._prepare_env``)."""

    def __init__(self) -> None:
        self._total, self._jit = self._read()

    @staticmethod
    def _read() -> tuple[float, dict[str, float]]:
        t = os.times()
        total = t.user + t.system + t.children_user + t.children_system
        jit: dict[str, float] = {}
        for pid in descendants(os.getpid()):
            total += _stat_cpu_s(f"/proc/{pid}/stat", True)
            jit.update(_jit_threads(pid))
        return total, jit

    def lap(self) -> tuple[float, float]:
        """(CPU seconds without JIT, JIT CPU seconds) since the last lap."""
        total, jit = self._read()
        jit_s = sum(v - self._jit.get(k, 0.0) for k, v in jit.items())
        spent = total - self._total
        self._total, self._jit = total, jit
        return spent - jit_s, jit_s


def bootstrap_mode(pyspark_python: str | None) -> str:
    """Worker bootstrap in effect, read from the session's PYSPARK_PYTHON:
    'fast' when get_spark installed its PYTHONPATH-rewriting wrapper,
    otherwise 'stock' (Spark's own zip-based bootstrap)."""
    name = os.path.basename(pyspark_python or "")
    return "fast" if name.startswith("pageeval_worker_python_") else "stock"


def source_digest(repo: str) -> str:
    """sha256 over the program's Python sources (path + bytes), so a result
    names the code it measured even where no git metadata exists."""
    h = hashlib.sha256()
    pkg = os.path.join(repo, "page_evaluator_spark")
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, repo).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(repo: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def fingerprint(repo: str, spark, pyspark_python: str | None) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": nproc(), "spark": spark.version,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "bootstrap_mode": bootstrap_mode(pyspark_python),
            "pyspark_python": pyspark_python,
            "git_commit": git_commit(repo), "source_digest": source_digest(repo)}


# --- peak memory ------------------------------------------------------------

def vm_hwm_kb(pid: int) -> int | None:
    """VmHWM (peak resident set) of a live process, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark" in fh.read()
    except OSError:
        return False


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, largest VmHWM among the JVM's live Python workers), MiB.
    Read once, just before the session stops: workers that exited earlier
    are not seen (no sampler thread)."""
    jvm = (vm_hwm_kb(jvm_pid) or 0) / 1024.0
    workers = [vm_hwm_kb(p) or 0 for p in descendants(jvm_pid) if _is_python_worker(p)]
    return jvm, max(workers, default=0) / 1024.0

