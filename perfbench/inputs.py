"""Seeded input generators for the four benchmark workloads.

Everything the program under test receives is made here from the
``--seed`` alone (plus, for the release feeds, the current month — see
:func:`hub_feed_records`):

- :func:`write_tables` — the ten TPC-H-style tables the declared
  queries read (``region`` … ``lineitem``, ``events``, ``documents``,
  ``embeddings``), with the column types and value ranges of the
  engine's reference corpus at scale factor 0.01.
- :func:`hub_feed_records` / :func:`write_hub_feeds` — two months of
  synthetic Hub JSONL feeds (models, datasets, spaces, commits,
  discussions) with the June-2024 child ratios, plus the per-table row
  counts the 17-table release must hold after each load.
- :func:`delivery_stream` — the maintained-index delivery stream:
  document batches, edge batches over a large chain history, embedding
  batches and SCD2 change batches.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- query tables ----------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.43, 0.15, 0.14, 0.14)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMB_DIM = 64

# Row counts at scale factor 0.01 (customer, supplier, part, orders,
# lineitem, events, event users, documents, embeddings).
SF001 = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, users=150, documents=500,
             embeddings=500)

_DAY_US = 86_400_000_000
_EPOCH_1995 = int((datetime(1995, 1, 1) - datetime(1970, 1, 1))
                  .total_seconds()) * 1_000_000
_EPOCH_2024 = int((datetime(2024, 1, 1) - datetime(1970, 1, 1))
                  .total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Documents of 10-99 words over a 30-word vocabulary.  About one in
    twelve carries a 12-word span copied from an earlier document, and
    one in twenty-five is a near copy of an earlier document with a
    few words changed, so the span, n-gram and MinHash dedup paths all
    find work."""
    words = np.array(VOCAB)
    texts: list[list[str]] = []
    for i in range(n):
        k = int(rng.integers(10, 100))
        toks = list(words[rng.integers(0, len(words), k)])
        if i > 20 and rng.random() < 0.04:
            toks = list(texts[int(rng.integers(0, i))])
            for j in rng.integers(0, len(toks), 3):
                toks[j] = str(words[rng.integers(0, len(words))])
        elif i > 20 and rng.random() < 0.08:
            src = texts[int(rng.integers(0, i))]
            if len(src) >= 12 and len(toks) >= 12:
                a = int(rng.integers(0, len(src) - 11))
                b = int(rng.integers(0, len(toks) - 11))
                toks[b:b + 12] = ["dup"] + src[a + 1:a + 12]
        texts.append(toks)
    text = [" ".join(t) for t in texts]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], np.int64)),
    }


def table_arrays(seed: int) -> dict[str, pa.Table]:
    """The ten query tables at :data:`SF001` sizes as Arrow tables, a
    pure function of ``seed``."""
    s = SF001
    rng = np.random.default_rng([seed, 1])
    out: dict[str, pa.Table] = {}
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731

    out["region"] = pa.table({"r_regionkey": i32(range(5)),
                              "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5),
    })
    nc = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(range(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist()),
    })
    ns = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(range(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = s["part"]
    out["part"] = pa.table({
        "p_partkey": i64(range(npart)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist()),
        "p_size": i32(rng.integers(1, 51, npart)),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)),
    })
    no = s["orders"]
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, span_days, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist()),
    })
    nl = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, npart, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl).tolist()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), nl).tolist()),
        "l_shipdate": _ts(_EPOCH_1995
                          + rng.integers(1, span_days + 95, nl) * _DAY_US),
    })
    ne = s["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": i64(range(ne)),
        "ts": _ts(_EPOCH_2024 + np.minimum(np.cumsum(gaps),
                                           30 * _DAY_US - 1)),
        "user_id": i64(rng.integers(0, s["users"], ne)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, ne)]),
    })
    out["documents"] = pa.table(_documents(rng, s["documents"]))
    nv = s["embeddings"]
    emb = rng.standard_normal((nv, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": i64(range(nv)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, nv)),
    })
    return out


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten query tables as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in table_arrays(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --- release feeds ---------------------------------------------------------

# June-2024 corpus child ratios (repos: 62.6% models, 13.8% datasets,
# 23.6% spaces; 7.17 commits and 4.69 tags per repo; 2.70 files per
# commit; 0.25 discussions per repo with 1.9 events each).
REPO_MIX = (0.626, 0.138, 0.236)
COMMITS_PER_REPO = 7.17
FILES_PER_COMMIT = 2.70
SIBLINGS_PER_REPO = 14.0
TAGS_PER_REPO = 4.69
DISCUSSIONS_PER_REPO = 0.25
EVENTS_PER_DISCUSSION = 1.9
# Repos touched within the last FRESH_MONTHS months are fresh for the
# incremental load's ``-i FRESH_MONTHS`` window; the month offsets are
# drawn from 0..11, so about 7/12 of the repos are fresh.
FRESH_MONTHS = 6
KINDS = ("model", "dataset", "space")


def _month_start(now: datetime, back: int) -> datetime:
    m = now.year * 12 + now.month - 1 - back
    return datetime(m // 12, m % 12 + 1, 1, tzinfo=timezone.utc)


def _stamp(now: datetime, back: int, day: int, hour: int) -> str:
    d = _month_start(now, back)
    return f"{d.year:04d}-{d.month:02d}-{day:02d}T{hour:02d}:00:00"


def hub_feed_records(seed: int, n_repos: int,
                     now: datetime | None = None) -> dict:
    """Two months of Hub feeds as Python records.

    Returns ``{"month1": feeds, "month2": feeds, "fresh": set}`` where
    ``feeds`` maps feed name → list of JSON records.  ``last_modified``
    is placed relative to ``now``'s month (default: the current month),
    as a whole number of months back drawn from the seed — so the
    fresh/stale split of the incremental load is set by the seed, not
    by the run date.  Month 2 re-lists every month-1 repo (stale repos
    only gain likes and downloads; fresh repos also gain commits and a
    tag) and adds new repos."""
    now = now or datetime.now(timezone.utc)
    rng = np.random.default_rng([seed, 2])
    m1 = {k: [] for k in ("models", "datasets", "spaces", "commits",
                          "discussions")}
    m2 = {k: [] for k in m1}
    fresh: set[str] = set()
    model_names: list[str] = []
    dataset_names: list[str] = []
    n_new = max(1, n_repos // 10)

    def repo(i: int, new: bool):
        kind = KINDS[int(np.searchsorted(np.cumsum(REPO_MIX),
                                         rng.random()))]
        org = f"org{i % 97}"
        name = f"{org}/r{i}"
        back = 0 if new else int(rng.integers(0, 12))
        n_sib = int(rng.integers(1, 2 * int(SIBLINGS_PER_REPO) + 1))
        sib = [{"filename": f"f{j}.bin", "size": int(rng.integers(1, 1 << 20)),
                "blob_id": f"b{i}_{j}",
                "lfs": ({"size": 999, "pointer_size": 134, "sha": "l" * 40}
                        if j % 7 == 0 else None)}
               for j in range(n_sib)]
        tags = sorted({f"t{int(t)}" for t in rng.integers(
            0, 400, int(rng.integers(0, 2 * int(TAGS_PER_REPO) + 1)))})
        base = {"name": name, "author": org, "sha": f"{i:040x}",
                "last_modified": _stamp(now, back, int(rng.integers(1, 28)),
                                        int(rng.integers(0, 24))),
                "private": False, "card_data": "{}", "gated": "False",
                "likes": int(rng.integers(0, 50)), "disabled": False,
                "tags": tags, "siblings": sib}
        n_commits = int(rng.integers(0, 2 * int(COMMITS_PER_REPO) + 1))
        commits = []
        for c in range(n_commits):
            commits.append(_commit(rng, kind, name, org, i, c, now, back))
        disc = None
        if rng.random() < DISCUSSIONS_PER_REPO:
            disc = _discussion(rng, kind, name, i, now, back)
        extra = {}
        if kind == "model":
            extra = {"pipeline_tag": "text-generation",
                     "downloads": int(rng.integers(0, 10**6)),
                     "library_name": "transformers", "config": "cfg"}
            model_names.append(name)
        elif kind == "dataset":
            extra = {"description": "d", "citation": None,
                     "paperswithcode_id": (f"pwc{i}" if i % 5 == 0
                                           else None),
                     "downloads": int(rng.integers(0, 10**5))}
            dataset_names.append(name)
        else:
            deps_m = sorted(set(rng.choice(model_names, 2).tolist())) \
                if model_names and i % 3 == 0 else []
            deps_d = sorted(set(rng.choice(dataset_names, 1).tolist())) \
                if dataset_names and i % 4 == 0 else []
            extra = {"sdk": "gradio", "stage": "RUNNING", "hardware": None,
                     "requested_hw": None, "sleep_time": None,
                     "storage": None, "runtime_raw": "{}",
                     "models": deps_m, "datasets": deps_d}
        return kind, {**base, **extra}, commits, disc, back

    repos = []
    for i in range(n_repos):
        kind, row, commits, disc, back = repo(i, False)
        repos.append((i, kind, row, commits, disc, back))
        m1[f"{kind}s"].append(row)
        m1["commits"].extend(commits)
        if disc:
            m1["discussions"].append(disc)
    for i, kind, row, commits, disc, back in repos:
        row2 = dict(row, likes=row["likes"] + int(rng.integers(0, 5)))
        if "downloads" in row2:
            row2["downloads"] = row["downloads"] + int(rng.integers(0, 100))
        commits2 = list(commits)
        if back <= FRESH_MONTHS:
            fresh.add(f"{kind}s/{row['name']}")
            row2["tags"] = sorted(set(row["tags"]) | {"fresh"})
            for c in range(len(commits), len(commits)
                           + int(rng.integers(1, 3))):
                commits2.append(_commit(rng, kind, row["name"],
                                        row["author"], i, c, now, back))
        m2[f"{kind}s"].append(row2)
        m2["commits"].extend(commits2)
        if disc:
            m2["discussions"].append(disc)
    for i in range(n_repos, n_repos + n_new):
        kind, row, commits, disc, _ = repo(i, True)
        fresh.add(f"{kind}s/{row['name']}")
        m2[f"{kind}s"].append(row)
        m2["commits"].extend(commits)
        if disc:
            m2["discussions"].append(disc)
    return {"month1": m1, "month2": m2, "fresh": fresh}


def _commit(rng, kind, name, org, i, c, now, back) -> dict:
    files = [{"old_path": None, "new_path": f"f{j}.bin",
              "change_type": "ADD" if c == 0 else "MODIFY", "diff": "+",
              "added": int(rng.integers(1, 100)),
              "deleted": int(rng.integers(0, 20)), "nloc": 1}
             for j in range(int(rng.integers(1, 2 * int(FILES_PER_COMMIT)
                                             + 1)))]
    day = int(rng.integers(1, 28))
    return {"repo_id": f"{kind}s/{name}", "sha": f"{i:032x}{c:08x}",
            "parents": [f"{i:032x}{c - 1:08x}"] if c else [],
            "message": f"c{c}",
            "author_date": _stamp(now, back, day, 1),
            "author_tz": 0,
            "committer_date": _stamp(now, back, day, 2),
            "committer_tz": 0, "in_main_branch": True,
            "author_name": f"dev{int(rng.integers(0, 5000))}",
            "committer_name": org, "files": files}


def _discussion(rng, kind, name, i, now, back) -> dict:
    events = [{"id": f"ev{i}_{e}", "event_type": "comment",
               "created_at": _stamp(now, back, 3, e % 24),
               "author": f"fan{int(rng.integers(0, 3000))}",
               "content": "q", "edited": False, "hidden": False,
               "new_status": None, "summary": None, "sha": None,
               "old_title": None, "new_title": None, "full_data": "{}"}
              for e in range(int(rng.integers(
                  1, 2 * int(EVENTS_PER_DISCUSSION) + 1)))]
    return {"repo_id": f"{kind}s/{name}", "num": 1,
            "author": f"fan{int(rng.integers(0, 3000))}", "title": "hi",
            "status": "open", "created_at": _stamp(now, back, 2, 0),
            "is_pull_request": False, "target_branch": None,
            "merge_commit_oid": None, "git_reference": None,
            "conflicting_files": None, "events": events}


def _keys(feeds: dict) -> dict[str, set]:
    """The primary-key sets each of the 17 tables derives from one
    month's feeds (the pipeline's dedup semantics on these feeds)."""
    k: dict[str, set] = {t: set() for t in (
        "repository", "model", "dataset", "space", "tag", "tags_in_repo",
        "repo_file", "commits", "commit_parents", "modified_file",
        "files_in_commit", "discussion", "conflicting_files_discussion",
        "discussion_event", "author", "models_in_space",
        "datasets_in_space")}
    for kind in KINDS:
        for r in feeds[f"{kind}s"]:
            rid = f"{kind}s/{r['name']}"
            k["repository"].add(rid)
            k[kind].add(rid)
            k["author"].add(r["author"])
            for t in r["tags"]:
                k["tag"].add(t)
                k["tags_in_repo"].add((t, rid))
            for s in r["siblings"]:
                k["repo_file"].add((rid, s["filename"]))
            if kind == "space":
                for m in r["models"]:
                    k["models_in_space"].add((m, rid))
                for d in r["datasets"]:
                    k["datasets_in_space"].add((d, rid))
    for c in feeds["commits"]:
        k["commits"].add(c["sha"])
        k["author"].add(c["author_name"])
        for p in c["parents"]:
            k["commit_parents"].add((c["sha"], p))
        for f in c["files"]:
            k["modified_file"].add((c["repo_id"], f["new_path"], c["sha"]))
            k["files_in_commit"].add((c["sha"], f["new_path"]))
    for d in feeds["discussions"]:
        k["discussion"].add((d["num"], d["repo_id"]))
        k["author"].add(d["author"])
        for e in d["events"]:
            k["discussion_event"].add(e["id"])
            k["author"].add(e["author"])
    return k


def expected_release_counts(records: dict) -> tuple[dict, dict]:
    """Per-table row counts after the full load of month 1 and after
    the incremental load of month 2.  Every incremental merge is keyed
    (upsert or insert-ignore), and stale repos contribute nothing but
    counters, so the second release holds the union of month 1's keys
    and the keys of month 2's fresh repos."""
    k1 = _keys(records["month1"])
    fresh = records["fresh"]
    m2 = records["month2"]
    fresh_feeds = {
        **{f"{kind}s": [r for r in m2[f"{kind}s"]
                        if f"{kind}s/{r['name']}" in fresh]
           for kind in KINDS},
        "commits": [c for c in m2["commits"] if c["repo_id"] in fresh],
        "discussions": [d for d in m2["discussions"]
                        if d["repo_id"] in fresh],
    }
    k2 = _keys(fresh_feeds)
    first = {t: len(v) for t, v in k1.items()}
    second = {t: len(k1[t] | k2[t]) for t in k1}
    return first, second


def write_hub_feeds(out_dir: str, feeds: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for kind, rows in feeds.items():
        with open(os.path.join(out_dir, f"{kind}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
    return out_dir


# --- maintained-index deliveries -------------------------------------------

CHAIN = 10  # edge history: vertex v links to v+1 inside runs of CHAIN


# Rows per delivery: documents, bridging edges, vectors, SCD2 changes.
DOCS_PER, EDGES_PER, VECS_PER, CHANGES_PER = 40, 24, 40, 200


def delivery_stream(seed: int, n_deliveries: int,
                    history_vertices: int) -> dict:
    """A seeded stream of ``n_deliveries`` deliveries per index family.

    - ``docs``: base documents plus one batch of new documents per
      delivery (new ids above the base; some re-use base spans).
    - ``edges``: a chain history over ``history_vertices`` vertices
      (components are runs of :data:`CHAIN`), then per delivery
      ``EDGES_PER`` edges that bridge random chains, plus one edge to
      a fresh vertex.
    - ``vecs``: base unit vectors and per-delivery batches.
    - ``changes``: SCD2 change events (key, state, ts, seq), each
      delivery strictly later in event time than the one before."""
    rng = np.random.default_rng([seed, 3])
    n_base_docs = 400
    docs = _documents(rng, n_base_docs + n_deliveries * DOCS_PER)
    doc_batches = [np.arange(n_base_docs + k * DOCS_PER,
                             n_base_docs + (k + 1) * DOCS_PER)
                   for k in range(n_deliveries)]
    n_chains = history_vertices // CHAIN
    edge_batches = []
    for k in range(n_deliveries):
        a = rng.integers(0, n_chains, EDGES_PER) * CHAIN \
            + rng.integers(0, CHAIN, EDGES_PER)
        b = rng.integers(0, n_chains, EDGES_PER) * CHAIN \
            + rng.integers(0, CHAIN, EDGES_PER)
        keep = a != b
        src = np.concatenate([a[keep], [history_vertices + k]])
        dst = np.concatenate([b[keep], [a[0]]])
        edge_batches.append((src.astype(np.int64), dst.astype(np.int64)))
    n_base_vecs = 400
    nv = n_base_vecs + n_deliveries * VECS_PER
    emb = rng.standard_normal((nv, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    vec_batches = [np.arange(n_base_vecs + k * VECS_PER,
                             n_base_vecs + (k + 1) * VECS_PER)
                   for k in range(n_deliveries)]
    n_keys = 300
    nc = CHANGES_PER * (n_deliveries + 1)
    ts = _EPOCH_2024 + np.arange(nc, dtype=np.int64) * 1_000_000
    changes = {
        "key": rng.integers(0, n_keys, nc).astype(np.int64),
        "state": rng.choice(("active", "idle", "gone"), nc,
                            p=(0.5, 0.35, 0.15)),
        "ts": ts,
        "seq": np.arange(nc, dtype=np.int64),
    }
    change_batches = [np.arange((k + 1) * CHANGES_PER,
                                (k + 2) * CHANGES_PER)
                      for k in range(n_deliveries)]
    return {
        "docs": docs, "n_base_docs": n_base_docs, "doc_batches": doc_batches,
        "history_vertices": history_vertices, "edge_batches": edge_batches,
        "emb": emb, "n_base_vecs": n_base_vecs, "vec_batches": vec_batches,
        "changes": changes, "n_base_changes": CHANGES_PER,
        "change_batches": change_batches,
    }


def expected_components(history_vertices: int,
                        edge_batches: list) -> dict[int, int]:
    """Component label (minimum vertex) of every vertex whose label
    differs from its chain head, plus every fresh vertex, after all
    deliveries: a union-find over chain heads."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    def head(v: int) -> int:
        return v if v >= history_vertices else v - v % CHAIN

    for src, dst in edge_batches:
        for a, b in zip(src.tolist(), dst.tolist()):
            ra, rb = find(head(a)), find(head(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {h: find(h) for h in list(parent)} | {
        v: find(v) for src, _ in edge_batches for v in src.tolist()
        if v >= history_vertices}
