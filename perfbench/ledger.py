"""Spans, process accounting and the environment stamp.

The benchmark records spans from its own code, around calls into the
engine's layers; nothing inside ``pdf_extraction_spark`` is instrumented.
Process figures come from ``/proc`` (Linux): CPU of the benchmark's process
tree, the peak RSS of Spark's Python workers, and the hypervisor steal of
the whole machine.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time
import uuid
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus exact
    counts; ``dump`` writes them out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "counts": self.counts, **extra},
                f,
                indent=1,
            )


def timed(fn, *args, **kwargs):
    """(seconds, result) of one call."""
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t, out


def median_spread(values: list[float]) -> dict:
    """Median, quartile spread (as a share of the median) and count."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else 0.0
    else:
        spread = 0.0
    return {"median": med, "iqr_frac": spread, "n": len(values)}


# --- /proc accounting --------------------------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its parent counts as ended)."""
    st = _stat_fields(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and its live descendants, including
    the children each has reaped (so a worker that exited still counts)."""
    total = 0
    for pid in [root] + descendants(root):
        st = _stat_fields(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            total += sum(int(v) for v in st[11:15])
    return total / _CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb(root: int) -> float:
    """Highest VmHWM among Spark's Python worker processes under ``root``
    (the ``pyspark.daemon`` and the workers it forks)."""
    peak_kb = 0
    for pid in descendants(root):
        if "pyspark.daemon" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def cpu_ticks() -> dict:
    """Machine-wide (total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def steal_frac(before: dict, after: dict) -> float:
    total = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / total if total else 0.0


def env_stamp(root_dir: str, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root_dir,
            # never report the commit of a repository above the checkout
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root_dir)},
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{cpus}]",
        "loadavg_start": os.getloadavg()[0],
        "git_commit": commit,
    }
