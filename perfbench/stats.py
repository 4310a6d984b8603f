"""Helpers of the benchmark that start no Spark session: per-kind medians
and the pass time, the tail-percentile rule, result digests, and the host
block with its noise probes (steal share, reference loop, process-tree CPU).
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import time

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the tail is noise from a handful of operations.
TAIL_MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1) of `samples`."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile p with at least TAIL_MIN_BEYOND of `n`
    samples beyond it (n * (100 - p) / 100 >= 10), or None when no
    percentile has that many: p50 needs 20 samples, p90 needs 100."""
    for p in range(99, -1, -1):
        if n * (100 - p) >= TAIL_MIN_BEYOND * 100:
            return p
    return None


def _by_kind(ops: list[tuple[str, float]]) -> dict[str, list[float]]:
    by_kind: dict[str, list[float]] = {}
    for kind, dur in ops:
        by_kind.setdefault(kind, []).append(dur)
    return dict(sorted(by_kind.items()))


def kind_medians(ops: list[tuple[str, float]]) -> dict[str, float]:
    """Median time of each kind of operation, from (kind, seconds) pairs."""
    return {k: percentile(v, 0.5) for k, v in _by_kind(ops).items()}


def pass_seconds(ops: list[tuple[str, float]]) -> float:
    """The time of one steady pass: the sum over operation kinds of each
    kind's median. A median pooled over kinds of different cost jumps
    between the kinds' levels as the mix shifts; a sum of per-kind medians
    does not."""
    return sum(kind_medians(ops).values())


def tail_lines(ops: list[tuple[str, float]]) -> list[str]:
    """Per kind: its median and the highest percentile the sample count
    supports, with the count."""
    out = []
    for kind, v in _by_kind(ops).items():
        p = tail_percentile(len(v))
        tail = (f"p{p} = {percentile(v, p / 100):.6g} s" if p is not None
                else f"no tail percentile, {len(v)} samples leave fewer than "
                     f"{TAIL_MIN_BEYOND} beyond any")
        out.append(f"kind {kind}: p50 = {percentile(v, 0.5):.6g} s, {tail} (n={len(v)})")
    return out


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: columns sorted by name and
    rows sorted by every column, with dtypes widened, exactly as the oracle
    harness normalizes them; then every value's string form, nulls as one
    marker, hashed column by column. Equal digests mean the two frames match
    value for value at string level, which is the oracle gate's parity rule
    (datetimes compare by value whatever their resolution)."""
    from tests.oracle_harness import _normalize

    norm = _normalize(pdf)
    h = hashlib.sha256(repr((len(norm), list(norm.columns))).encode())
    for c in norm.columns:
        col = norm[c]
        text = col.astype(str)
        text[col.isna()] = "<null>"
        h.update(b"\x1e" + "\x1f".join(text).encode())
    return h.hexdigest()


def dir_bytes(*roots: str) -> int:
    """Bytes of the regular files under `roots` (symlinks are not
    followed, so a linked input counts once, where it lives)."""
    size = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                if not os.path.islink(p):
                    size += os.path.getsize(p)
    return size


# ------------------------------------------------------------- host noise


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    fields = _read("/proc/stat").split("\n", 1)[0].split()[1:]
    vals = [int(x) for x in fields[:8]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def ref_loop_s() -> float:
    """Seconds of a fixed single-threaded integer loop: a probe of how fast
    the host runs right now, timed before and after each run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of `root_pid` and every live descendant
    (the driver JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        stat = _read(f"/proc/{entry}/stat")
        if not stat:
            continue
        rest = stat.rsplit(")", 1)[1].split()
        pid, ppid = int(entry), int(rest[1])
        children.setdefault(ppid, []).append(pid)
        cpu[pid] = (int(rest[11]) + int(rest[12])) / _TICK
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(children.get(pid, []))
    return total


def vm_hwm_kb(pid: int | str = "self") -> int:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def host_block(spark) -> dict:
    """What a record needs for two runs to be comparable: cores, memory,
    master, parallelism and versions."""
    import pyspark

    sc = spark.sparkContext
    mem_kb = 0
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "cores_used": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "mem_total_mb": mem_kb // 1024,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
    }
