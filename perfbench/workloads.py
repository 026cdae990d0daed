"""The workloads.

Each workload is driven through the engine's public entry points only:
``cli.run`` and ``metrics.ALL_METRICS`` (release), the
``queries.all_queries()`` builders (analytics, curation) and the
maintained-index writers (deliveries); ``serving`` combines the last
three.  A workload exposes

- ``prepare(rep)``: make the seeded inputs and their expected outputs
  (repeatable; each repetition writes a fresh copy);
- ``warm()``: the untimed warm-up;
- ``make_pass(i)``: untimed per-pass reset, returning the pass's ops in
  seeded order (see :func:`harness.run_passes`);
- ``nominal_pass_s``: the length of one pass on a 4-core host, which
  sets the number of passes in a run (:func:`harness.pass_count`).
"""

from __future__ import annotations

import argparse
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
import inputs
from harness import Op

def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _module_of(spec) -> str:
    return spec.spark.__module__.rsplit(".", 1)[-1]


class QueryWorkload:
    """Declared queries over the seeded tables.  Each op builds the
    query and fully materializes it to the driver as Arrow; the check
    hashes the result against the DuckDB oracle's hash for the same
    inputs, computed in ``prepare``.

    The query set is fixed per workload (``queries``), so every run
    times the same work and its quantiles compare across seeds; the
    seed sets the inputs and the order.  The sets are sized so a run
    fits the benchmark's time budget; ``warm_queries`` is the untimed
    warm-up."""

    queries: tuple[str, ...] = ()
    warm_queries: tuple[str, ...] = ()
    clear_caches_per_pass = False
    # seconds of one pass on a 4-core host; see harness.pass_count
    nominal_pass_s = 4.0

    def __init__(self, spark, work: str, seed: int):
        from hfcommunity_spark.queries import all_queries

        self.spark, self.work, self.seed = spark, work, seed
        registry = all_queries()
        self.specs = [registry[n] for n in self.queries]
        self.sf_dir = None
        self.expected: dict[str, str | None] = {}
        self.splits: list[tuple[str, float, float]] = []

    def prepare(self, rep: int) -> None:
        import duckdb

        from hfcommunity_spark.io import TESTDATA_TABLES

        d = inputs.write_tables(
            os.path.join(self.work, f"tables{rep}"), self.seed)
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{d}/{t}.parquet'")
            self.expected = {
                s.name: (harness.result_hash(con.execute(s.oracle).df())
                         if s.oracle else None)
                for s in self.specs
            }
        finally:
            con.close()
        self.sf_dir = d

    def _op(self, spec) -> Op:
        def run():
            t0 = time.perf_counter()
            df = spec.spark(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            tbl = df.toArrow()
            self.splits.append((spec.name, t1 - t0,
                                time.perf_counter() - t1))
            return tbl

        want = self.expected.get(spec.name)

        def check(tbl) -> bool:
            if want is None:  # no oracle: rows-only check
                return tbl.num_columns > 0
            return harness.result_hash(tbl.to_pandas()) == want

        return Op(spec.name, _module_of(spec), run, check,
                  rows=lambda t: t.num_rows)

    def warm(self) -> list:
        names = set(self.warm_queries or self.queries)
        return [harness.run_op(self._op(s)) for s in self.specs
                if s.name in names]

    def make_pass(self, i: int) -> list[Op]:
        if self.clear_caches_per_pass:
            from hfcommunity_spark.session_cache import clear_session_caches

            clear_session_caches()
        order = _rng(self.seed, 10, i).permutation(len(self.specs))
        return [self._op(self.specs[j]) for j in order]


class Analytics(QueryWorkload):
    """The analyst's query latency: sub-second relational, batch-parity
    and ETL-op queries, two per module, after an untimed warm pass over
    the same set."""

    queries = (
        "o1_top_lineitems_by_price", "f6_orders_per_month",  # relational
        "a11_cube_orders",
        "j10_asof_last_view_before_purchase",  # relational_ext
        "a13_string_agg_nations", "q4_priority_late_ship",  # relational_ext2
        "x5_streaming_dedup", "x7_stream_static_enrich",  # batch_parity
        "p3_skiplist_exclusion", "a3_run_counters",  # etlops
    )


class Curation(QueryWorkload):
    """The build-once/probe-many path: LLM-data-pipeline operators
    (maintained-index faces excluded) — the MinHash and exact-cosine
    index builds with a probe of the cosine pair set, exact-duplicate
    detection, and one query from each of ten other modules — every
    pass starting from empty session caches.  The warm-up only starts the
    JVM's and the Python workers' code paths; index builds stay in the
    timed passes."""

    queries = (
        "dd_minhash_lsh_pairs", "dd_exact_duplicates",  # dedup
        "dd_cosine_threshold_pairs",
        "dd_semantic_dedup_quality_gate",  # similarity
        "t_quality_score", "ud1_ascii_ratio",
        "mm_byte_features", "d5_scd2_user_state", "samp_stratified_topn",
        "skew_salted_agg_parity", "pipe_curation_dsir_topk",
        "samp_dsir_select", "j12_fuzzy_blocked_join",
        "layout_zorder_pruning_audit",
    )
    warm_queries = ("t_quality_score", "ud1_ascii_ratio",
                    "mm_byte_features")
    clear_caches_per_pass = True
    nominal_pass_s = 20.0


# --- release ---------------------------------------------------------------

class Release:
    """The paper's product: a full ``cli.run`` load of month 1, the
    incremental load of month 2 against it (``--prev-release``, ``-i``),
    then the eight published metrics over the new release."""

    # Sized to the benchmark's time budget.  Measured back to back on a
    # shared 4-core VM, one whole run took 62 s at 2000 repos, 72 s at
    # 5000 and 107 s at 20000; the two loads took 23 + 17 s, 26 + 22 s
    # and 34 + 30 s.
    n_repos = 2000
    nominal_pass_s = 45.0
    setup_reps = 1
    # Each metric runs twice per cycle, in seeded order: the op-latency
    # median then rests on 16 metric queries instead of 8.  With one
    # round its spread over 10 seeds was 0.385, as the median rank fell
    # on a different metric from seed to seed.
    metric_rounds = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.feeds: dict[str, str] = {}
        self.expected: tuple[dict, dict] = ({}, {})

    def prepare(self, rep: int) -> None:
        recs = inputs.hub_feed_records(self.seed, self.n_repos)
        root = os.path.join(self.work, f"feeds{rep}")
        self.feeds = {
            m: inputs.write_hub_feeds(os.path.join(root, m), recs[m])
            for m in ("month1", "month2")
        }
        self.expected = inputs.expected_release_counts(recs)

    def _load(self, base: str, release: str, month: str,
              want: dict) -> Op:
        from hfcommunity_spark import cli

        incremental = month == "month2"
        args = argparse.Namespace(
            feeds=self.feeds[month], base=base, release=release,
            type="all", skiplist="", max_commits=None,
            prev_release="r1" if incremental else None,
            months=inputs.FRESH_MONTHS if incremental else None)

        def run():
            return cli.run(self.spark, args)

        def check(counts) -> bool:
            return counts == want and _schemas_match(self.spark, base,
                                                     release)

        return Op(f"load_{release}", "cli", run, check,
                  rows=lambda c: sum(c.values()), writes=True)

    def _metric(self, base: str, name: str) -> Op:
        from hfcommunity_spark.metrics import ALL_METRICS
        from hfcommunity_spark.schema import SCHEMAS

        def run():
            tables = {
                t: self.spark.read.schema(SCHEMAS[t]).parquet(
                    f"{base}/{t}/release=r2")
                for t in SCHEMAS
            }
            return ALL_METRICS[name](tables).toArrow()

        return Op(name, "metrics", run,
                  check=lambda t: t.num_rows > 0,
                  rows=lambda t: t.num_rows)

    def ops(self, base: str, salt: int) -> list[Op]:
        from hfcommunity_spark.metrics import ALL_METRICS

        first, second = self.expected
        names = list(ALL_METRICS)
        rounds = [[names[j] for j in _rng(self.seed, 12, salt, r)
                   .permutation(len(names))]
                  for r in range(self.metric_rounds)]
        return ([self._load(base, "r1", "month1", first),
                 self._load(base, "r2", "month2", second)]
                + [self._metric(base, m) for order in rounds for m in order])

    def warm(self) -> list:
        # No warm-up: every CLI load starts a fresh JVM in production,
        # so the first load of a run is measured cold.
        return []

    def make_pass(self, i: int) -> list[Op]:
        prev = os.path.join(self.work, f"release{i - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return self.ops(os.path.join(self.work, f"release{i}"), i)


def _schemas_match(spark, base: str, release: str) -> bool:
    """Every one of the 17 tables was written, with exactly the column
    names and types of ``schema.SCHEMAS`` (matched by name: parquet
    readers resolve columns by name, and the full load writes
    ``repository`` in another column order than the incremental
    merge)."""
    from hfcommunity_spark.schema import SCHEMAS

    for name, struct in SCHEMAS.items():
        got = spark.read.parquet(f"{base}/{name}/release={release}").schema
        if {f.name: f.dataType for f in got} != {
                f.name: f.dataType for f in struct}:
            return False
    return True


# --- deliveries ------------------------------------------------------------

class Deliveries:
    """The write side of the maintained indexes: a seeded stream of
    deliveries folded through the public writers and served after each
    fold.  One op = one delivery folded into one index and served; one
    pass = the next delivery of the stream, folded into all five:

    - span audit: ``dedup.span_fold_in_place`` over persisted postings
      and stats layouts; served = the delivered docs' stats rows;
    - clusters: ``graph.component_merge_plan_pruned`` +
      ``apply_relabel_in_place`` + ``apply_changes_vertex_layout`` over
      a chain history larger than ``graph.WRITER_LOCAL_ROW_MAX`` in
      four buckets, so every delivery touches more rows than the cap
      and the writers choose their distributed path from input size
      (no cap is pinned); served = the delivered vertices' labels;
    - BM25: ``retrieval.bm25_index_delta``; served = the corpus stats;
    - IVF: ``similarity.ivf_index_delta`` with a frozen codebook;
      served = per-cell list sizes;
    - SCD2: ``mergeops.scd2_delta``; served = the open rows.

    The stream continues across passes.  After the timed region
    (:meth:`final_check`), every served index must equal a from-scratch
    rebuild over the base plus all folded deliveries."""

    max_deliveries = 12
    nominal_pass_s = 10.0
    history_vertices = 600_000
    buckets = 4
    n_cells = 8
    setup_reps = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.state: dict = {}
        self.folded = 0

    # -- inputs and standing state (untimed) --
    def prepare(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators import dedup as dd
        from hfcommunity_spark.operators.graph import (
            write_component_assign,
            write_vertex_assign,
        )

        spark = self.spark
        self.stream = s = inputs.delivery_stream(
            self.seed, self.max_deliveries, self.history_vertices)
        root = os.path.join(self.work, f"deliveries{rep}")
        os.makedirs(root)
        docs_path = os.path.join(root, "docs.parquet")
        pq.write_table(pa.table(s["docs"]), docs_path)
        self.docs = spark.read.parquet(docs_path)
        base_docs = self.docs.filter(F.col("doc_id") < s["n_base_docs"])
        pristine = os.path.join(root, "pristine")
        postings = dd.span_postings_frame(base_docs).localCheckpoint()
        dd.write_span_postings(postings, os.path.join(pristine, "postings"))
        dd.write_span_stats(dd.span_stats_from_postings(postings),
                            os.path.join(pristine, "stats"))
        postings.unpersist()
        assign = spark.range(self.history_vertices).select(
            F.col("id").alias("vertex"),
            (F.col("id") - F.col("id") % inputs.CHAIN).alias("component"))
        write_component_assign(assign, os.path.join(pristine, "cassign"),
                               buckets=self.buckets)
        write_vertex_assign(assign, os.path.join(pristine, "vassign"),
                            buckets=self.buckets)
        self.pristine = pristine
        emb_path = os.path.join(root, "emb.parquet")
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(len(s["emb"]), dtype=np.int64)),
            "embedding": pa.array(list(s["emb"]),
                                  type=pa.list_(pa.float32())),
        }), emb_path)
        self.emb = spark.read.parquet(emb_path)
        cents = _rng(self.seed, 4).standard_normal(
            (self.n_cells, inputs.EMB_DIM))
        self.centroids = (cents / np.linalg.norm(
            cents, axis=1, keepdims=True)).tolist()
        ch = s["changes"]
        ch_path = os.path.join(root, "changes.parquet")
        pq.write_table(pa.table({
            "key": ch["key"], "state": ch["state"].tolist(),
            "ts": pa.array(ch["ts"], type=pa.timestamp("us", tz="UTC")),
            "seq": ch["seq"]}), ch_path)
        self.changes = spark.read.parquet(ch_path)
        self.root = root

    def _fresh_state(self, tag: str) -> dict:
        """Private hardlinked copies of the pristine layouts, and the
        in-memory indexes' base state."""
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators.kmeans import assign_cells
        from hfcommunity_spark.operators.mergeops import scd2_history
        from hfcommunity_spark.operators.retrieval import bm25_index_delta

        if self.state:
            shutil.rmtree(self.state["dir"], ignore_errors=True)
            for key in ("bm25", "ivf", "scd2"):
                for df in self.state[key]:
                    df.unpersist()
        d = os.path.join(self.root, f"state-{tag}")
        shutil.copytree(self.pristine, d, copy_function=os.link)
        s = self.stream
        base_docs = self.docs.filter(F.col("doc_id") < s["n_base_docs"])
        bm25 = tuple(x.localCheckpoint() for x in
                     bm25_index_delta(*_empty_bm25(self.spark), base_docs))
        ivf = (assign_cells(
            self.emb.filter(F.col("vec_id") < s["n_base_vecs"]),
            self.centroids).select("vec_id", "cell", "embedding")
               .localCheckpoint(),)
        scd2 = (scd2_history(
            self.changes.filter(F.col("seq") < s["n_base_changes"]),
            key="key", state="state", ts="ts", tiebreak="seq")
                .localCheckpoint(),)
        self.state = {"dir": d, "bm25": bm25, "ivf": ivf, "scd2": scd2}
        self.folded = 0
        return self.state

    # -- ops --
    def _span_op(self, st: dict, k: int) -> Op:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators.dedup import span_fold_in_place

        ids = self.stream["doc_batches"][k].tolist()
        batch = self.docs.filter(F.col("doc_id").isin(ids))
        pdir = os.path.join(st["dir"], "postings")
        sdir = os.path.join(st["dir"], "stats")

        def run():
            span_fold_in_place(self.spark, pdir, sdir, batch)
            return self.spark.read.parquet(sdir).filter(
                F.col("doc_id").isin(ids)).toArrow()

        return Op(f"span_fold_{k}", "dedup", run,
                  check=lambda t: t.num_rows == len(ids),
                  rows=lambda t: len(ids), writes=True)

    def _graph_op(self, st: dict, k: int) -> Op:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from hfcommunity_spark.operators.graph import (
            apply_changes_vertex_layout,
            apply_relabel_in_place,
            changed_assignment_rows,
            component_merge_plan_pruned,
        )

        src, dst = self.stream["edge_batches"][k]
        edges = self.spark.createDataFrame(
            list(zip(src.tolist(), dst.tolist())),
            T.StructType([T.StructField("src", T.LongType()),
                          T.StructField("dst", T.LongType())]))
        cdir = os.path.join(st["dir"], "cassign")
        vdir = os.path.join(st["dir"], "vassign")
        verts = sorted(set(src.tolist()) | set(dst.tolist()))
        b = self.buckets

        def run():
            fresh, relabel = component_merge_plan_pruned(
                self.spark, vdir, edges, b)
            changed = changed_assignment_rows(
                self.spark, cdir, relabel, fresh, b).localCheckpoint()
            apply_relabel_in_place(self.spark, cdir, relabel, buckets=b,
                                   fresh=fresh)
            apply_changes_vertex_layout(self.spark, vdir, changed, b)
            changed.unpersist()
            return self.spark.read.parquet(vdir).filter(
                F.col("vertex").isin(verts)).toArrow()

        return Op(f"graph_fold_{k}", "graph", run,
                  check=lambda t: t.num_rows == len(verts),
                  rows=lambda t: len(src), writes=True)

    def _bm25_op(self, st: dict, k: int) -> Op:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators.retrieval import bm25_index_delta

        ids = self.stream["doc_batches"][k].tolist()
        batch = self.docs.filter(F.col("doc_id").isin(ids))

        def run():
            old = st["bm25"]
            st["bm25"] = tuple(x.localCheckpoint()
                               for x in bm25_index_delta(*old, batch))
            for x in old:
                x.unpersist()
            return st["bm25"][2].toArrow()

        return Op(f"bm25_fold_{k}", "retrieval", run,
                  check=lambda t: t.num_rows == 1,
                  rows=lambda t: len(ids), writes=True)

    def _ivf_op(self, st: dict, k: int) -> Op:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators.similarity import ivf_index_delta

        ids = self.stream["vec_batches"][k].tolist()
        batch = self.emb.filter(F.col("vec_id").isin(ids))

        def run():
            (old,) = st["ivf"]
            st["ivf"] = (ivf_index_delta(old, batch, self.centroids)
                         .localCheckpoint(),)
            old.unpersist()
            return st["ivf"][0].groupBy("cell").count().toArrow()

        return Op(f"ivf_fold_{k}", "similarity", run,
                  check=lambda t: t.num_rows >= 1,
                  rows=lambda t: len(ids), writes=True)

    def _scd2_op(self, st: dict, k: int) -> Op:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators.mergeops import scd2_delta

        idx = self.stream["change_batches"][k]
        batch = self.changes.filter(
            (F.col("seq") >= int(idx[0])) & (F.col("seq") <= int(idx[-1])))

        def run():
            (old,) = st["scd2"]
            st["scd2"] = (scd2_delta(old, batch, key="key", state="state",
                                     ts="ts", tiebreak="seq")
                          .localCheckpoint(),)
            old.unpersist()
            return st["scd2"][0].filter(F.col("valid_to").isNull()) \
                .toArrow()

        return Op(f"scd2_fold_{k}", "mergeops", run,
                  check=lambda t: t.num_rows >= 1,
                  rows=lambda t: len(idx), writes=True)

    def _delivery(self, st: dict, k: int, families) -> list[Op]:
        order = _rng(self.seed, 11, k).permutation(len(families))
        return [families[j](st, k) for j in order]

    def warm(self) -> list:
        # No separate warm-up: building the standing layouts in
        # ``prepare`` already runs the JVM's code paths, and the first
        # fold of each index is measured as a user would meet it.
        return []

    def make_pass(self, i: int) -> list[Op]:
        if i >= self.max_deliveries:
            raise RuntimeError("delivery stream exhausted")
        st = self._fresh_state("timed") if i == 0 else self.state
        ops = self._delivery(st, i, (self._span_op, self._graph_op,
                                     self._bm25_op, self._ivf_op,
                                     self._scd2_op))
        self.folded = i + 1
        return ops

    # -- the from-scratch rebuilds (untimed) --
    def final_check(self) -> bool:
        from pyspark.sql import functions as F

        from hfcommunity_spark.operators import dedup as dd
        from hfcommunity_spark.operators.kmeans import assign_cells
        from hfcommunity_spark.operators.mergeops import scd2_history
        from hfcommunity_spark.operators.retrieval import bm25_index_delta

        s, st, n = self.stream, self.state, self.folded

        def upto(batches):
            return int(batches[n - 1][-1]) + 1

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        docs = self.docs.filter(F.col("doc_id") < upto(s["doc_batches"]))
        cols = ("doc_id", "n_spans", "n_dup_spans")
        if rows(self.spark.read.parquet(os.path.join(st["dir"], "stats")),
                cols) != rows(dd.span_stats_frame(docs), cols):
            return False
        want_cc = inputs.expected_components(self.history_vertices,
                                             s["edge_batches"][:n])
        for layout in ("cassign", "vassign"):
            got = self.spark.read.parquet(os.path.join(
                st["dir"], layout)).select("vertex", "component").toArrow()
            if not _components_match(got, self.history_vertices, want_cc):
                return False
        for got, want in zip(st["bm25"], bm25_index_delta(
                *_empty_bm25(self.spark), docs)):
            if rows(got, got.columns) != rows(want, got.columns):
                return False
        vecs = self.emb.filter(F.col("vec_id") < upto(s["vec_batches"]))
        if rows(st["ivf"][0], ("vec_id", "cell")) != rows(
                assign_cells(vecs, self.centroids), ("vec_id", "cell")):
            return False
        want_scd2 = scd2_history(
            self.changes.filter(F.col("seq") < upto(s["change_batches"])),
            key="key", state="state", ts="ts", tiebreak="seq")
        cols = ("key", "state", "valid_from", "valid_to")
        return rows(st["scd2"][0], cols) == rows(want_scd2, cols)


class ServingReads(QueryWorkload):
    """The read side of :class:`Serving`: every query of
    :class:`Analytics` and :class:`Curation`, in one seeded order, from
    empty session caches.  The warm-up covers the analytics queries and
    curation's warm set, so index builds stay in the timed pass."""

    queries = Analytics.queries + Curation.queries
    warm_queries = Analytics.queries + Curation.warm_queries
    clear_caches_per_pass = True


class Serving:
    """The surface over a release in one pass — the benchmark's
    recorded workload for everything but the ETL, sized to its time
    budget:

    - reads: :class:`ServingReads`, which puts a query of every
      operator module of the declared-query registry in the pass;
    - writes: the next delivery of a :class:`Deliveries` stream folded
      into all five maintained indexes, over a 100k-vertex cluster
      history (below ``graph.WRITER_LOCAL_ROW_MAX``, so the cluster
      writers take their driver-local path; ``deliveries`` alone runs
      the distributed path).

    Setup builds the standing layouts once (``setup_reps = 1``): they
    cost a chain of Spark writes, the bulk of the set-up."""

    setup_reps = 1
    nominal_pass_s = 23.0

    def __init__(self, spark, work: str, seed: int):
        self.reads = ServingReads(spark, work, seed)
        self.writes = Deliveries(spark, work, seed)
        self.writes.history_vertices = 100_000
        self.splits = self.reads.splits

    def prepare(self, rep: int) -> None:
        self.reads.prepare(rep)
        self.writes.prepare(rep)

    def warm(self) -> list:
        return self.reads.warm()

    def make_pass(self, i: int) -> list[Op]:
        return self.reads.make_pass(i) + self.writes.make_pass(i)

    def final_check(self) -> bool:
        return self.writes.final_check()


def _components_match(got: pa.Table, history: int, want: dict) -> bool:
    """A (vertex, component) layout equals the chain history relabeled
    by ``want`` (chain head or fresh vertex → final component)."""
    v = got.column("vertex").to_numpy()
    c = got.column("component").to_numpy()
    n_fresh = sum(1 for x in want if x >= history)
    if len(v) != history + n_fresh:
        return False
    head = np.where(v < history, v - v % inputs.CHAIN, v)
    expect = head.copy()
    for h, comp in want.items():
        expect[head == h] = comp
    return bool(np.array_equal(c, expect))


def _empty_bm25(spark):
    """An empty standing BM25 index (postings, doc lengths, 1-row
    stats): folding a corpus into it with ``bm25_index_delta`` is the
    from-scratch build."""
    from pyspark.sql import types as T

    tf = spark.createDataFrame([], T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType(), False)]))
    dl = spark.createDataFrame([], T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.IntegerType())]))
    st = spark.createDataFrame([(0, 0)], T.StructType([
        T.StructField("n", T.LongType(), False),
        T.StructField("sum_dl", T.LongType(), False)]))
    return tf, dl, st


WORKLOADS = {
    "release": Release,
    "analytics": Analytics,
    "curation": Curation,
    "deliveries": Deliveries,
    "serving": Serving,
}
