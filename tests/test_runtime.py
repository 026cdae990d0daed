"""The materialization and bucketed-layout runtime (``runtime.py``):
checkpoint bookkeeping, the staged-commit bucket writer and its
readers, the hardlink-snapshot fallback, and the seam lint that keeps
those rules out of the operator modules."""

from __future__ import annotations

import pathlib
import re

import pytest

from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("eager", [True, False], ids=["eager", "lazy"])
def test_checkpoint_does_not_capture_lazy_caches(spark, eager):
    """Round-5 review: a LAZY persist() whose first materialization
    happens inside a checkpoint job must not be captured as checkpoint
    storage — runtime.free would otherwise evict it and every later
    probe would recompute from scratch.  Lazy mode captures its ids at
    mark time; the caller's full-pass action materializes both."""
    from hfcommunity_spark import runtime

    jsc = spark.sparkContext._jsc
    base = set(jsc.getPersistentRDDs().keySet().toArray())
    cached = spark.range(1000).selectExpr("id", "id * 2 AS v").persist()
    try:
        # not yet materialized; the checkpoint job triggers it
        derived = cached.selectExpr("id", "v + 1 AS w")
        ck, ids = runtime.checkpoint(derived, eager=eager)
        assert ck.count() == 1000
        assert ids, "checkpoint storage must be captured"
        runtime.free(spark, ids)
        m = jsc.getPersistentRDDs()
        survivors = [
            i for i in set(m.keySet().toArray()) - base
            if m.get(i) is not None
            and not m.get(i).rdd().isLocallyCheckpointed()
        ]
        assert survivors, "lazy cache was evicted by runtime.free"
        for i in ids:  # the checkpoint blocks themselves ARE freed
            assert m.get(i) is None or not m.get(
                i).rdd().getStorageLevel().isValid()
    finally:
        cached.unpersist()


# (layout, pcol, bucket, columns, rows on disk, rows written, append)
_LAYOUTS = {
    "assign": ("c_bucket", 5, ("vertex", "component"),
               [(7, 7)], [(7, 9), (8, 9)], False),
    "stats": ("d_bucket", 3, ("doc_id", "n_spans", "n_dup_spans"),
              [(7, 5, 1)], [(7, 5, 2)], False),
    "append": ("h_bucket", 0, ("doc_id", "h", "c"),
               [(7, 64, 1)], [(8, 128, 2)], True),
}


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_bucket_writer_stages_before_unlink(tmp_path, monkeypatch,
                                            layout):
    """Durability contract of the driver-local bucket writer (round-11
    advice), for the 2-column assignment layout, the 3-column span
    stats layout and the postings append: the new file is written
    while the old files are still on disk, and replace mode unlinks
    old files only after the write succeeds — so a failed write leaves
    the bucket's previous contents intact (never an emptied
    directory).  A corrupt parquet file gates the bucket reader (and,
    on the postings layout, the span probe) to None — the distributed
    fallback — instead of raising."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hfcommunity_spark import runtime
    from hfcommunity_spark.operators import dedup as dd

    pcol, b, cols, old, new, append = _LAYOUTS[layout]
    i64 = pa.int64()
    fields = tuple((c, i64) for c in cols)
    root = str(tmp_path / layout)
    d = tmp_path / layout / f"{pcol}={b}"
    d.mkdir(parents=True)
    pq.write_table(
        pa.table({c: pa.array([r[i] for r in old], i64)
                  for i, c in enumerate(cols)}),
        str(d / "part-00000-old.snappy.parquet"),
    )

    def read():
        return runtime.read_bucket_rows(root, pcol, [b], cols, 10_000)

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", boom)
    with pytest.raises(OSError):
        runtime.write_bucket_files(root, pcol, {b: new}, fields, append)
    monkeypatch.undo()
    assert read() == {b: old}  # old contents untouched and readable
    # a successful write replaces them exactly (no stale files), or in
    # append mode lands beside them
    runtime.write_bucket_files(root, pcol, {b: new}, fields, append)
    got = read()
    assert sorted(got[b]) == sorted(old + new if append else new)
    assert len(runtime.bucket_files(str(d))) == (2 if append else 1)
    # truncated footer → ArrowInvalid → gate, not crash
    (d / "part-00001-bad.snappy.parquet").write_bytes(b"PAR1junk")
    assert read() is None
    if pcol == "h_bucket":
        assert dd._span_probe_local(
            root, [b], pa.array([64], i64), 10_000,
        ) is None


def test_link_or_copy_cross_device_fallback(spark, monkeypatch):
    """When ``os.link`` fails (snapshot dir on another filesystem),
    every hardlink snapshot copies bytes instead: x17 with both span
    caps pinned to 0 takes all three snapshot sites (the working copy,
    the distributed fold's stats snapshot, the serve snapshots) and
    must serve the same result as with hardlinks, with exactly one
    warning for the process."""
    import errno
    import hashlib
    import os
    import warnings

    from hfcommunity_spark import runtime
    from hfcommunity_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "SPAN_LOCAL_ROW_MAX", 0)
    monkeypatch.setattr(dd, "X17_SERVE_LOCAL_ROW_MAX", 0)

    def digest():
        rows = sorted(
            tuple(r) for r in
            dd.x17_stream_maintained_spans(spark, SF_SMOKE).collect()
        )
        assert rows, "x17 served no rows"
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    linked = digest()

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), src)

    monkeypatch.setattr(os, "link", cross_device)
    monkeypatch.setattr(runtime, "_LINK_FALLBACK_WARNED", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        copied = digest()
    fallback = [w for w in caught if "link_or_copy" in str(w.message)]
    assert len(fallback) == 1, [str(w.message) for w in caught]
    assert copied == linked


# The rules runtime.py holds once: checkpoint bookkeeping, hardlink
# snapshots and the bucket data-file predicate.
_RUNTIME_ONLY = {
    "getPersistentRDDs": re.compile(r"getPersistentRDDs"),
    "isLocallyCheckpointed": re.compile(r"isLocallyCheckpointed"),
    "os.link": re.compile(r"os\.link\b"),
    "data-file predicate": re.compile(
        r"""startswith\(\(\s*["']_["']\s*,\s*["']\.["']\s*\)\)"""
    ),
}


def test_layout_rules_live_only_in_runtime():
    """Seam lint: no operator module restates a rule the runtime owns
    — neither the four primitives above nor a private import from
    ``graph`` (where these rules used to live) nor a function named
    like one of runtime's."""
    import ast

    pkg = pathlib.Path(__file__).resolve().parents[1] / "hfcommunity_spark"
    runtime_src = (pkg / "runtime.py").read_text()
    for name, pat in _RUNTIME_ONLY.items():
        assert pat.search(runtime_src), f"runtime.py lost {name}"
    runtime_defs = {
        n.name for n in ast.parse(runtime_src).body
        if isinstance(n, ast.FunctionDef)
    }
    reserved = runtime_defs | {"_" + n.lstrip("_") for n in runtime_defs}
    hits = []
    for p in sorted((pkg / "operators").rglob("*.py")):
        src = p.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            for name, pat in _RUNTIME_ONLY.items():
                if pat.search(line):
                    hits.append(f"{p.name}:{i}: {name}")
        for node in ast.walk(ast.parse(src)):
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").endswith("operators.graph")):
                hits += [f"{p.name}:{node.lineno}: graph.{a.name}"
                         for a in node.names if a.name.startswith("_")]
            if (isinstance(node, ast.FunctionDef)
                    and node.name in reserved):
                hits.append(f"{p.name}:{node.lineno}: def {node.name}")
    assert not hits, "layout rules outside runtime.py:\n" + "\n".join(hits)
