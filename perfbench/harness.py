"""Measurement helpers shared by the workloads: environment pinning,
the closed-loop pass runner, percentiles, result hashing and peak
resident memory."""

from __future__ import annotations

import hashlib
import math
import os
import shlex
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


# The driver JVM heap.  The engine's default (24g) is sized for a
# 32-core host; the benchmark's inputs need far less.  Only the maximum
# and the young generation are fixed: the old generation grows as the
# program keeps data (cached frames, collected results), so the JVM's
# share of peak_rss_mb follows what the program holds rather than the
# collector's young-generation sizing, which moved it by up to a fifth
# from run to run.
YOUNG_GEN = "256m"
DRIVER_MEMORY = "2g"


def pin_environment(root: str, work: str) -> dict[str, str]:
    """Pin what the engine reads from the environment before the JVM
    starts, and return it for the result record.  The repo goes on
    ``PYTHONPATH`` so Python workers (UDFs, UDTFs) can import the
    package from any working directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    java_opts = shlex.quote(
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}")
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
        # temp files of the JVM, Python and its workers stay in ``work``
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'wh')} "
            f"--driver-java-options {java_opts} pyspark-shell"),
    }
    os.environ.update(pinned)
    os.environ.pop("OMP_NUM_THREADS", None)
    tempfile.tempdir = None  # re-read TMPDIR
    return pinned


def source_digest(root: str) -> str:
    """sha256 over the engine and benchmark sources — identifies the
    code measured when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for top in ("hfcommunity_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    """HEAD of ``root`` when it is itself a git work tree, else None."""
    import subprocess

    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


# --- statistics ------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it (rank ``ceil(q/100*n)``,
    1-based).  Always a measured value, never an interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python driver plus its
    JVM, in MB."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def rows_per_s(samples) -> float:
    """Rows written per second of write-op time where a workload writes
    (loads, delivery folds); otherwise rows returned per second of op
    time."""
    ops = [s for s in samples if s.writes] or list(samples)
    return sum(s.rows for s in ops) / sum(s.seconds for s in ops)


# --- result hashing --------------------------------------------------------

def _plain(v):
    if isinstance(v, np.ndarray):
        return tuple(_plain(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, float) and v == 0.0:
        return 0.0
    return v


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values in one representation per type
    family, rows sorted by every column — the form in which a Spark
    result and its DuckDB oracle are compared."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64") + 0.0  # folds -0.0 into 0.0
        else:
            df[c] = [None if (x is None or (isinstance(x, float)
                                            and math.isnan(x)))
                     else _plain(x) for x in s.astype(object)]
    if len(df.columns) and len(df):
        keys = [df[c].map(lambda x: (x is not None, x)) if
                df[c].dtype == object else df[c] for c in df.columns]
        order = sorted(range(len(df)), key=lambda i: tuple(
            k.iat[i] for k in keys))
        df = df.iloc[order]
    return df.reset_index(drop=True)


def result_hash(df: pd.DataFrame) -> str:
    """sha256 of the canonical form: column names, then each column's
    values (floats bit-exact, NaN and NULL distinguished)."""
    df = canonical(df)
    h = hashlib.sha256()
    h.update(repr(list(df.columns)).encode())
    h.update(str(len(df)).encode())
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            h.update(repr(s.tolist()).encode())
        else:
            h.update(np.ascontiguousarray(s.to_numpy()).tobytes())
    return h.hexdigest()


# --- the closed-loop runner ------------------------------------------------

@dataclass
class Op:
    """One unit of user-visible work.  ``run`` is timed; ``check``
    receives its return value afterwards, outside the timed region, and
    returns True when the output is correct."""

    name: str
    module: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: Callable[[Any], int] = lambda r: 0
    writes: bool = False  # rows() counts rows written, not returned


@dataclass
class Sample:
    name: str
    module: str
    seconds: float
    ok: bool
    rows: int
    error: str | None = None
    writes: bool = False


@dataclass
class Timed:
    samples: list[Sample] = field(default_factory=list)
    pass_seconds: list[float] = field(default_factory=list)


def run_op(op: Op, observer=None) -> Sample:
    if observer is not None:
        observer.op_started(op)
    err = None
    t0 = time.perf_counter()
    try:
        out = op.run()
    except Exception as e:  # an op that raises is a failed op
        out, err = None, f"{type(e).__name__}: {e}"[:300]
    dt = time.perf_counter() - t0
    if observer is not None:
        observer.op_finished(op, dt)
    ok, rows = False, 0
    if err is None:
        try:
            ok = bool(op.check(out))
            rows = int(op.rows(out))
        except Exception as e:
            err = f"check {type(e).__name__}: {e}"[:300]
    return Sample(op.name, op.module, dt, ok, rows, err, op.writes)


def pass_count(seconds: float, nominal_pass_s: float) -> int:
    """Whole passes in a run: as many passes of the workload's nominal
    length as fit in ``seconds``, at least one.  The count depends on
    ``seconds`` alone, never on how fast a pass ran, so every run of a
    workload times the same work."""
    return max(1, int(seconds // nominal_pass_s))


def run_passes(make_pass: Callable[[int], list[Op]], passes: int,
               observer=None) -> Timed:
    """Closed loop with one client: run ``passes`` whole passes, one op
    at a time.  ``make_pass(i)`` prepares pass ``i`` untimed (resets,
    fresh output paths) and returns its ops.  Checks run between ops
    with the clock stopped, so a pass time is the sum of its op
    latencies."""
    out = Timed()
    for i in range(passes):
        pass_s = 0.0
        for op in make_pass(i):
            s = run_op(op, observer)
            out.samples.append(s)
            pass_s += s.seconds
        out.pass_seconds.append(pass_s)
    return out
