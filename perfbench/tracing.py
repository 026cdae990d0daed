"""The traced run: splits a workload's wall time into driver, Spark
scheduling and executor time, and into time per module.

Everything is read from outside the engine:

- every op runs under its own Spark job group, so
  ``statusTracker().getJobIdsForGroup`` gives the op's jobs, and the
  JVM status store (``statusStore().lastStageAttempt`` over py4j) gives
  each stage's task count, run and CPU time, GC, bytes and interval.
  Stages that never ran (skipped, or without an attempt) are left out;
- public engine functions are wrapped, for the traced passes only, by
  replacing the module attributes the callers look up
  (``SessionCache.get_or_build``, ``hub_feeds.read_all_feeds``,
  ``pipeline.run_offline``, ``incremental.incremental_release_merge``,
  ``io.write_snapshot`` and the six maintained-index writers);
- ``DataFrame.toArrow``/``toPandas``/``collect`` are wrapped to count
  the bytes that reach the driver.
"""

from __future__ import annotations

import os
import pickle
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# Operator modules of the declared-query registry (``<module>.op_s``).
REGISTRY_MODULES = (
    "relational", "relational_ext", "relational_ext2", "batch_parity",
    "etlops", "dedup", "similarity", "textops", "sampling", "curation",
    "lm", "multimodal", "retrieval", "pandas_udfs", "linkage", "mergeops",
    "graph", "layout", "skew")

# Maintained-index writers: metric stem → (module, function).  Each
# metric is the time and the Spark jobs inside the writer call.  The
# first three write their layouts inside the call; the other three
# return a plan, so their figure is plan building plus any eager
# piece, and the fold's materialization shows in the owning op.
WRITERS = {
    "graph.relabel": ("graph", "apply_relabel_in_place"),
    "graph.vertex_layout": ("graph", "apply_changes_vertex_layout"),
    "dedup.span_fold": ("dedup", "span_fold_in_place"),
    "retrieval.bm25_delta": ("retrieval", "bm25_index_delta"),
    "similarity.ivf_delta": ("similarity", "ivf_index_delta"),
    "mergeops.scd2_delta": ("mergeops", "scd2_delta"),
}

STAGE_FIELDS = (
    ("exec.task_cpu_s", "executorCpuTime", 1e-9),
    ("exec.run_s", "executorRunTime", 1e-3),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("exec.input_bytes", "inputBytes", 1),
    ("exec.output_bytes", "outputBytes", 1),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
)


def metric_names() -> list[str]:
    """Every per-layer metric the traced run prints, in order."""
    names = ["driver.gap_s", "driver.collect_bytes",
             "sched.jobs", "sched.stages", "sched.tasks"]
    names += [n for n, _, _ in STAGE_FIELDS]
    names += ["exec.spill_bytes", "storage.cached_bytes",
              "queries.build_s", "queries.action_s",
              "session_cache.lookups", "session_cache.builds",
              "session_cache.hit_ratio", "session_cache.build_s",
              "sources.read_s", "etl.plan_s", "io.write_s", "io.files",
              "io.bytes_written", "metrics.query_s"]
    for stem in WRITERS:
        names += [f"{stem}_s", f"{stem}.jobs"]
    names += [f"{m}.op_s" for m in REGISTRY_MODULES]
    names += ["share.driver", "share.sched", "share.exec",
              "trace.untraced_wall_s", "trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name.startswith("share.") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


class Tracer:
    """Observer for :func:`harness.run_passes`: one job group per op,
    plus the wrappers listed in the module docstring while active."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[dict] = []
        self.writer_calls: list[dict] = []
        self.counters = defaultdict(float)
        self._patches: list[tuple[object, str, object]] = []
        self._current: dict | None = None
        self._group = ("perfbench-idle", "between ops")

    # -- observer protocol --
    def op_started(self, op) -> None:
        rec = {"name": op.name, "module": op.module,
               "group": f"perfbench-op-{len(self.ops)}",
               "t0": time.time(), "t1": None, "seconds": 0.0}
        self.ops.append(rec)
        self._current = rec
        self._set_group(rec["group"], op.name)

    def op_finished(self, op, seconds: float) -> None:
        rec = self._current
        rec["t1"], rec["seconds"] = time.time(), seconds
        self._set_group("perfbench-idle", "between ops")
        self._current = None

    # -- wrappers --
    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def _timed(self, key: str, after=None):
        def factory(orig):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                out = orig(*a, **kw)
                self.counters[key] += time.perf_counter() - t0
                if after is not None:
                    after(out)
                return out
            return wrapper
        return factory

    def _set_group(self, group: str, desc: str) -> None:
        self._group = (group, desc)
        self.sc.setJobGroup(group, desc)

    def _writer(self, stem: str):
        def factory(orig):
            def wrapper(*a, **kw):
                op, prev = self._current, self._group
                group = f"{prev[0]}-{stem}"
                self._set_group(group, stem)
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    self.writer_calls.append({
                        "stem": stem, "group": group,
                        "seconds": time.perf_counter() - t0})
                    if op is not None:
                        op.setdefault("subgroups", []).append(group)
                    self._set_group(*prev)
            return wrapper
        return factory

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from hfcommunity_spark import cli
        from hfcommunity_spark import io as hio
        from hfcommunity_spark.etl import incremental, pipeline
        from hfcommunity_spark.operators import (
            dedup,
            graph,
            mergeops,
            retrieval,
            similarity,
        )
        from hfcommunity_spark.session_cache import SessionCache
        from hfcommunity_spark.sources import hub_feeds

        c = self.counters

        def cache_factory(orig):
            def get_or_build(cache, spark, key, build):
                c["session_cache.lookups"] += 1

                def counted():
                    c["session_cache.builds"] += 1
                    t0 = time.perf_counter()
                    try:
                        return build()
                    finally:
                        c["session_cache.build_s"] += (
                            time.perf_counter() - t0)
                return orig(cache, spark, key, counted)
            return get_or_build

        def snapshot_files(path) -> None:
            for dirpath, _, files in os.walk(str(path)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        c["io.files"] += 1
                        c["io.bytes_written"] += os.path.getsize(
                            os.path.join(dirpath, fn))

        self._patch(SessionCache, "get_or_build", cache_factory)
        self._patch(hub_feeds, "read_all_feeds",
                    self._timed("sources.read_s"))
        self._patch(pipeline, "run_offline", self._timed("etl.plan_s"))
        self._patch(incremental, "incremental_release_merge",
                    self._timed("etl.plan_s"))
        for owner in (cli, hio):
            self._patch(owner, "write_snapshot",
                        self._timed("io.write_s", after=snapshot_files))
        modules = {"graph": graph, "dedup": dedup, "retrieval": retrieval,
                   "similarity": similarity, "mergeops": mergeops}
        for stem, (mod, fn) in WRITERS.items():
            self._patch(modules[mod], fn, self._writer(stem))

        def bytes_factory(size):
            def factory(orig):
                def wrapper(*a, **kw):
                    out = orig(*a, **kw)
                    c["driver.collect_bytes"] += size(out)
                    return out
                return wrapper
            return factory

        # the classic (non-Connect) DataFrame overrides these methods
        self._patch(DataFrame, "toArrow", bytes_factory(lambda t: t.nbytes))
        self._patch(DataFrame, "toPandas", bytes_factory(
            lambda p: int(p.memory_usage(deep=True).sum())))
        self._patch(DataFrame, "collect", bytes_factory(
            lambda rows: len(pickle.dumps([tuple(r) for r in rows]))))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def cached_bytes(self) -> int:
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += int(info.memSize()) + int(info.diskSize())
        return total

    # -- status-store readout --
    def _stage_rows(self, groups) -> tuple[int, list[dict]]:
        """(jobs, ran stages) of the given job groups."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs, stage_ids = 0, set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        stages = []
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # a stage with no attempt never ran
            status = sd.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue
            row = {"tasks": int(sd.numTasks()),
                   "spill": int(sd.memoryBytesSpilled())
                   + int(sd.diskBytesSpilled())}
            for _, attr, _scale in STAGE_FIELDS:
                row[attr] = int(getattr(sd, attr)())
            sub, done = sd.submissionTime(), sd.completionTime()
            row["interval"] = ((sub.get().getTime() / 1e3,
                                done.get().getTime() / 1e3)
                               if sub.isDefined() and done.isDefined()
                               else None)
            stages.append(row)
        return jobs, stages

    def _drain(self) -> None:
        """Let the listener bus deliver every stage event to the status
        store before it is read."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def summarize(self, untraced_wall_s: float, traced_wall_s: float,
                  cores: int, cached_bytes: int,
                  query_splits=()) -> tuple[dict, dict]:
        """Per-layer metrics and each layer's share of the traced
        wall time.  ``cached_bytes`` is :meth:`cached_bytes` read right
        after the traced pass."""
        self._drain()
        m: dict[str, float] = {n: 0.0 for n in metric_names()}
        gap = 0.0
        exec_wall = 0.0
        for op in self.ops:
            groups = [op["group"], *op.get("subgroups", ())]
            jobs, stages = self._stage_rows(groups)
            op["jobs"], op["stages"] = jobs, len(stages)
            m["sched.jobs"] += jobs
            m["sched.stages"] += len(stages)
            spans = []
            for st in stages:
                m["sched.tasks"] += st["tasks"]
                m["exec.spill_bytes"] += st["spill"]
                for name, attr, scale in STAGE_FIELDS:
                    m[name] += st[attr] * scale
                exec_wall += (st["executorRunTime"] * 1e-3
                              / max(1, min(cores, st["tasks"])))
                if st["interval"]:
                    a, b = st["interval"]
                    spans.append((max(a, op["t0"]), min(b, op["t1"])))
            gap += max(0.0, op["seconds"] - _union(spans))
            m[f"{op['module']}.op_s"] = m.get(
                f"{op['module']}.op_s", 0.0) + op["seconds"]
        m["driver.gap_s"] = gap
        for key, val in self.counters.items():
            m[key] = val
        lookups = m["session_cache.lookups"]
        m["session_cache.hit_ratio"] = (
            1.0 - m["session_cache.builds"] / lookups if lookups else 0.0)
        for _name, build_s, action_s in query_splits:
            m["queries.build_s"] += build_s
            m["queries.action_s"] += action_s
        for stem in WRITERS:
            calls = [w for w in self.writer_calls if w["stem"] == stem]
            m[f"{stem}_s"] = sum(w["seconds"] for w in calls)
            m[f"{stem}.jobs"] = self._stage_rows(
                sorted({w["group"] for w in calls}))[0]
        m["metrics.query_s"] = m.pop("metrics.op_s", 0.0)
        for extra in [k for k in m if k.endswith(".op_s")
                      and k[:-5] not in REGISTRY_MODULES]:
            m.pop(extra)  # non-registry op owners (cli, deliveries)
        m["storage.cached_bytes"] = float(cached_bytes)
        total = sum(o["seconds"] for o in self.ops) or 1.0
        m["share.driver"] = gap / total
        m["share.exec"] = min(1.0 - m["share.driver"], exec_wall / total)
        m["share.sched"] = max(0.0, 1.0 - m["share.driver"]
                               - m["share.exec"])
        m["trace.untraced_wall_s"] = untraced_wall_s
        m["trace.overhead_s"] = traced_wall_s - untraced_wall_s
        shares = {k[:-2] if k.endswith("_s") else k: round(v / total, 4)
                  for k, v in m.items()
                  if k.endswith("_s") and not k.startswith("trace.")}
        return m, shares


def _union(spans) -> float:
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(s for s in spans if s[1] > s[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def counters_of(metrics: dict) -> dict:
    """The deterministic counters of a traced run (exact repeats are
    expected across runs of the same seed)."""
    return {k: metrics[k] for k in ("sched.jobs", "sched.stages",
                                    "sched.tasks")}

