"""Engine-free helpers of the benchmark: percentiles, /proc memory readings,
metric-name rules, host record and the summary line.

Nothing here imports Spark, so the helpers are unit-testable on their own
(``python -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import os
import platform
import re
import subprocess
import sys

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
SUMMARY_KEYS = ("correct", "attempted", "failed", "metrics")
# a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return (
        isinstance(name, str)
        and 0 < len(name) <= 64
        and name[0].isalnum()
        and METRIC_NAME_RE.fullmatch(name) is not None
    )


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest whole percentile above the median that still has at least
    ``min_beyond`` of ``n`` samples beyond it (p90 needs n >= 100), or None
    when even the median has fewer than that beyond it."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (n - min_beyond) / n)
    return p if p >= 50 else None


def read_vmhwm_kb(pid: int, proc_root: str = "/proc") -> int:
    """Peak resident set (``VmHWM``) of one process in kB; 0 when the
    process is gone or the field is missing (kernel threads)."""
    try:
        with open(os.path.join(proc_root, str(pid), "status")) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def _ppid(pid: int, proc_root: str) -> int | None:
    try:
        with open(os.path.join(proc_root, str(pid), "stat")) as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    try:
        return int(stat.rsplit(")", 1)[1].split()[1])
    except (IndexError, ValueError):
        return None


def descendants(root: int, proc_root: str = "/proc") -> list[int]:
    """All live descendant pids of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc_root):
        if name.isdigit():
            parent = _ppid(int(name), proc_root)
            if parent is not None:
                children.setdefault(parent, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int, proc_root: str) -> str:
    try:
        with open(os.path.join(proc_root, str(pid), "comm")) as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_by_process(root: int | None = None, proc_root: str = "/proc") -> list:
    """[(pid, command, VmHWM MB)] for every descendant of ``root`` (the JVM
    and the Python workers it forks); ``peak_rss_mb`` is their sum."""
    root = os.getpid() if root is None else root
    return [
        (p, _comm(p, proc_root), read_vmhwm_kb(p, proc_root) / 1024.0)
        for p in descendants(root, proc_root)
    ]


def summary(
    attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> dict:
    """The result object the benchmark prints as its last line."""
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_metric_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": float(value), "unit": unit}
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    }


def git_commit(root: str) -> str:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not report the
            # commit of a repository around it
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(os.path.abspath(root))},
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def host_record(root: str, master: str, seed: int) -> dict:
    """Where and on what a result was measured (context, never a divisor)."""
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "master": master,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
        "commit": git_commit(root),
        "seed": seed,
        "argv": sys.argv[1:],
    }


def digest(df) -> tuple[int, int]:
    """(rows, order-independent 64-bit hash) of a result frame, with column
    order and engine-specific dtypes (int widths, timestamp units, -0.0)
    normalized away."""
    import numpy as np
    import pandas as pd

    norm = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            norm[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            norm[c] = s.astype("float64") + 0.0
        elif pd.api.types.is_datetime64_any_dtype(s):
            norm[c] = s.astype("datetime64[ns]").astype("int64")
        else:
            norm[c] = s.astype(str)
    rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False)
    return len(df), int(rows.to_numpy(dtype=np.uint64).sum(dtype=np.uint64))
