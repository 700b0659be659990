"""Measurement helpers that need no Spark: process-tree CPU, memory and
ending, percentiles with the tail-sample rule, the Spark UI's REST totals, and the
streaming checkpoint's file-to-batch map."""

from __future__ import annotations

import json
import math
import os
import re
import signal
import time
import urllib.request
from datetime import datetime

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and its live descendants, minus the subtrees in ``exclude``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_ended(pids, timeout: float) -> None:
    """Wait until none of ``pids`` is running; kill those still running
    after ``timeout`` seconds and wait for them too."""
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _running(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while any(_running(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.05)


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds used so far by ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return n - math.ceil(n * p / 100.0)


def median(values) -> float:
    return percentile(values, 50)


def iso_ms(ts: str) -> float:
    """Epoch milliseconds of a progress event's ISO-8601 UTC timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def source_log_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Map each input file's base name to the micro-batch that read it.

    Reads the file source's metadata log under ``sources/<n>/``, including
    the ``.compact`` files the log is folded into every few batches.
    """
    log = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if not re.fullmatch(r"\d+(\.compact)?", name):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:  # first line: log version
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def spark_rest(spark, what: str):
    """GET ``/api/v1/applications/<app>/<what>`` from the session's UI."""
    sc = spark.sparkContext
    return _get(f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}")


_BATCH_RE = re.compile(r"batch = (\d+)")


def job_unit(job: dict) -> str | None:
    """The unit a job belongs to: its job group, plus the micro-batch id for
    streaming jobs (which share one group per query run)."""
    group = job.get("jobGroup")
    if group is None:
        return None
    m = _BATCH_RE.search(job.get("description") or "")
    return f"{group}/{m.group(1)}" if m else group


def stage_totals(stages: list[dict], stage_ids: set[int]) -> dict:
    keep = [s for s in stages if s["stageId"] in stage_ids]
    return {
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in keep) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in keep) / 1e3,
        "input_bytes": float(sum(s.get("inputBytes", 0) for s in keep)),
        "shuffle_bytes": float(
            sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in keep)
        ),
    }
