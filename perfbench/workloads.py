"""The benchmark's workloads: ``serve`` and ``ingest``.

Each workload sets up from cold caches ``SETUPS`` times (the median is
``setup_s``) and follows each set-up with one part of the measured window,
after an untimed warm-up the first time. In the window a closed loop with
one client runs: the next operation starts only when the previous one has
returned. An operation is what one user waits for: a page of the app
(``serve``) or a write-then-read cycle (``ingest``). The operation
sequence is a fixed function of the seed. Every operation attempted is
counted; one that raises is a failed operation and its traceback goes to
stderr. Output checks that fail are collected in ``Run.problems``.

The program sees only the generated parquet tables and the public API:
``sources.views.load_ref_tables``, ``plans.pipeline.run_pipeline``,
``recommender.get_recommender``, ``operators.serving``, ``operators.etl``,
``operators.corating``, ``operators.knn`` and ``plans.modularity``.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from graph_database_application_for_recommendations_spark import recommender, registry
from graph_database_application_for_recommendations_spark.operators import (
    etl, recommend, serving,
)
from graph_database_application_for_recommendations_spark.operators.corating import corating_edges
from graph_database_application_for_recommendations_spark.operators.knn import knn_exact_local
from graph_database_application_for_recommendations_spark.plans import pipeline
from graph_database_application_for_recommendations_spark.plans.modularity import modularity
from graph_database_application_for_recommendations_spark.sources.views import load_ref_tables
from spans import Tracer, instrument

SETUPS = 3
KNN_CUTOFF = 0.6  # the app's and the registry's value (see registry._pipeline)
KNN_TOP_K = 20  # run_pipeline's default, the reference's topK
K = 3  # recommendations / similar users per reply, the app's default
USERS_PER_KIND = 2  # users each recommender's pages ask about
TYPICAL_POOL = 10  # typical users the KNN users are drawn from
KEYS = ["user_id", "isbn"]
WARMUP_CYCLES = 3  # untimed ingest cycles before the window
# buckets of the ingest store. etl's default of 256 leaves ~200 rows per
# bucket at sf0.01 and made one ingest run take ~70 s, past the run budget;
# 32 keeps ~1.7k rows per bucket, the same write/read paths
N_BUCKETS = 32


class Run:
    """What one workload run measured and found. An operation is what one
    user waits for (a page of the app, an ingest cycle); it is made of
    calls into the engine, timed on their own as well."""

    def __init__(self):
        self.setup_s: list[float] = []
        self.latencies: dict[str, list[float]] = {}  # op class -> seconds
        self.calls: dict[str, list[float]] = {}  # call -> seconds
        self.attempted = 0
        self.failed = 0
        self.window_s = 0.0
        self.problems: list[str] = []
        self.info: dict = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok and len(self.problems) < 20:
            self.problems.append(what)

    def attempt(self, op: str, fn):
        """Run and time one operation; returns ``(ok, result)``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed operation is counted, never hidden
            self.failed += 1
            print(f"operation {op} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None
        self.latencies.setdefault(op, []).append(time.perf_counter() - t0)
        return True, out

    def measure(self, seconds: float, step) -> None:
        """One part of the measured window: repeat ``step`` (a round of
        operations) until ``seconds`` have passed."""
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            step()
        self.window_s += time.perf_counter() - t_start

    def call(self, name: str, fn):
        """Run and time one call inside an operation."""
        t0 = time.perf_counter()
        out = fn()
        self.calls.setdefault(name, []).append(time.perf_counter() - t0)
        return out


def reset_caches(spark) -> None:
    registry.reset_caches()
    spark.catalog.clearCache()


def cached_mb(spark) -> float:
    """Bytes in Spark storage that the run still references. Garbage is
    collected on both sides first and the figure read until it holds still,
    so blocks the context cleaner drops on its own (checkpoints of lost
    DataFrames) do not count by the luck of when a collection last ran."""
    sc = spark.sparkContext
    gc.collect()  # releases the JVM objects of dead Python DataFrames
    sc._jvm.System.gc()

    def read() -> float:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)

    last, steady = read(), 0
    for _ in range(20):
        time.sleep(0.1)
        value = read()
        steady = steady + 1 if value == last else 0
        last = value
        if steady == 5:
            break
    return last


def digest(rows: list[dict]) -> str:
    text = "\n".join(sorted(json.dumps(r, sort_keys=True, default=str) for r in rows))
    return hashlib.sha1(text.encode()).hexdigest()


def _fill_views(tracer: Tracer, spark, data_dir: str):
    ref = load_ref_tables(spark, data_dir)
    with tracer.span("views"):
        ref.ratings.count()
    return ref


def _build(tracer: Tracer, spark, data_dir: str):
    """One offline build from cold caches: fill ``ratings``, then
    materialize the pipeline's embeddings, SIMILAR_TO edges and communities."""
    reset_caches(spark)
    ref = _fill_views(tracer, spark, data_dir)
    res = pipeline.run_pipeline(spark, data_dir, knn_cutoff=KNN_CUTOFF)
    with tracer.span("fastrp"):
        res.embeddings.count()
    with tracer.span("knn"):
        res.similar_to.count()
    with tracer.span("louvain"):  # the communities stage, co-rating join included
        res.communities.count()
    return ref, res


def _instrument_calls(tracer: Tracer) -> None:
    """Spans for the calls one layer makes into another: the pipeline's
    co-rating projection (inside the ``louvain`` span) and the recommender
    facade's query builders (inside ``recommender``; they only plan, the
    facade's collect runs the jobs)."""
    instrument(tracer, pipeline, ("corating_edges",), "corating")
    instrument(tracer, recommend, (
        "recommend_books_knn", "similar_users_knn", "graph_data_knn",
        "recommend_books_community", "similar_users_community", "graph_data_community",
    ), "recommend")


def _rated(tracer: Tracer, ratings, books, user_id: int) -> list[dict]:
    """The app's rated-books panel: the serving query, collected to dicts."""
    with tracer.span("serving"):
        return [r.asDict() for r in serving.rated_books(ratings, books, user_id).collect()]


# --- serve -----------------------------------------------------------------


def serve(spark, data_dir: str, work_dir: str, seed: int, seconds: float,
          tracer: Tracer) -> Run:
    """Read-only app traffic. One operation is one page of the app
    (``streamlit_app.py``): for one user and one recommender (KNN or
    community), the user's rated books, recommended books, similar users
    and graph data. Set-up is the offline build the app serves from, from
    cold caches; each set-up is followed by a part of the window."""
    run = Run()
    _instrument_calls(tracer)
    rng = np.random.default_rng(seed)
    users: dict[str, list[int]] = {}
    expected: dict[tuple, dict[str, str]] = {}
    non_empty: dict[str, list[int]] = {}

    def page(kind: str, user: int) -> dict[str, list[dict]]:
        rec = recs[kind]
        replies = {"rated": run.call("rated", lambda: _rated(tracer, ref.ratings, ref.books, user))}
        for call, fn in (("rec", rec.recommend_books), ("sim", rec.get_similar_users),
                         ("graph", rec.get_graph_data)):
            with tracer.span("recommender"):
                replies[call] = run.call(f"{kind}_{call}", lambda: fn(user))
        return replies

    def check_page(kind: str, user: int, replies: dict[str, list[dict]]) -> None:
        rated = {(r["title"], r["author"]) for r in replies["rated"]}
        for call in ("rec", "sim"):
            n = len(replies[call])
            run.check(n <= K, f"{kind}_{call}({user}) returned {n} rows > k={K}")
        seen = {(r["title"], r["author"]) for r in replies["rec"]} & rated
        run.check(not seen, f"{kind}_rec({user}) recommended already-rated {sorted(seen)}")
        for call, rows in replies.items():
            run.check(digest(rows) == expected[(kind, user)][call],
                      f"{kind}_{call}({user}) reply differs from its warm-up reply")

    def one_round() -> None:
        """One page per recommender in a seeded order, so both weigh the
        same in the latency distribution."""
        kinds = list(users)
        for j in rng.permutation(len(kinds)):
            kind = kinds[j]
            user = int(rng.choice(users[kind]))
            ok, replies = run.attempt(f"{kind}_page", lambda: page(kind, user))
            tracer.flush()
            if not ok:
                continue
            check_page(kind, user, replies)
            for call, rows in replies.items():
                counts = non_empty.setdefault(f"{kind}_{call}", [0, 0])
                counts[0] += bool(rows)
                counts[1] += 1

    for i in range(SETUPS):
        t0 = time.perf_counter()
        ref, res = _build(tracer, spark, data_dir)
        recs = {kind: recommender.get_recommender(spark, data_dir, kind, pipeline=res, k=K)
                for kind in ("knn", "community")}
        with tracer.span("recommender"):
            members = recs["community"].users_in_large_communities()
        run.setup_s.append(time.perf_counter() - t0)
        tracer.flush()
        if i == 0:
            _check_build(run, ref, res)
            pools = {"knn": _typical_knn_users(ref, res),
                     "community": _typical_community_users(members)}
            run.info["user_pools"] = {kind: len(pool) for kind, pool in pools.items()}
            for kind, pool in pools.items():
                run.check(len(pool) >= USERS_PER_KIND, f"only {len(pool)} typical {kind} users")
            if run.problems:
                return run
            users = {kind: [int(u) for u in rng.choice(pool, USERS_PER_KIND, replace=False)]
                     for kind, pool in pools.items()}
            # warm-up, outside the window: every (recommender, user) page
            # once; its replies are the digests every later reply, after
            # any set-up, must reproduce
            for kind, kind_users in users.items():
                for user in kind_users:
                    replies = page(kind, user)
                    expected[(kind, user)] = {c: digest(rows) for c, rows in replies.items()}
                    check_page(kind, user, replies)
            tracer.flush()
            run.calls.clear()
        # the window is split over the set-ups, so that a slow spell of the
        # machine weighs on a part of it rather than all of it
        run.measure(seconds / SETUPS, one_round)
    run.info["non_empty_replies"] = {call: f"{a}/{n}" for call, (a, n) in non_empty.items()}
    return run


def _typical_knn_users(ref, res) -> list[int]:
    """SIMILAR_TO sources of the median out-degree whose graph data (their
    own ratings times their neighbours' ratings, a cross product) is
    closest to the median size: a KNN page's cost then does not hinge on
    which user the seed draws."""
    per_user = ref.ratings.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    own = {r["user_id"]: r["n"] for r in per_user.collect()}
    rows = res.similar_to.join(per_user, F.col("dst") == F.col("user_id")) \
        .groupBy("src").agg(F.count(F.lit(1)).alias("degree"), F.sum("n").alias("held")) \
        .collect()
    if not rows:
        return []
    degree = statistics.median_low(r["degree"] for r in rows)
    size = {r["src"]: own[r["src"]] * r["held"] for r in rows if r["degree"] == degree}
    typical = statistics.median_low(size.values())
    return sorted(sorted(size, key=lambda u: (abs(size[u] - typical), u))[:TYPICAL_POOL])


def _typical_community_users(members: list[dict]) -> list[int]:
    """Users of the app's picker whose community has the median size."""
    if not members:
        return []
    size = statistics.median_low(m["size"] for m in members)
    return sorted({m["userId"] for m in members if m["size"] == size})


# --- ingest ----------------------------------------------------------------


def ingest(spark, data_dir: str, work_dir: str, seed: int, seconds: float,
           tracer: Tracer) -> Run:
    """Writes beside reads on a hash-bucketed ratings store: each write
    upserts one new rating, then a point lookup reads it back and the
    user's rated books are served from the store's files. Each set-up
    writes a fresh store and is followed by a part of the window."""
    run = Run()
    _instrument_calls(tracer)
    rng = np.random.default_rng(seed)
    state: dict = {}

    def new_rating():
        while True:
            key = (int(state["users"][rng.integers(len(state["users"]))]),
                   state["isbns"][rng.integers(len(state["isbns"]))])
            if key not in state["existing"]:
                state["existing"].add(key)
                return key + (int(rng.integers(1, 11)),)

    def upsert(row):
        updates = spark.createDataFrame([row], ref.ratings.schema)
        with tracer.span("etl"):
            return etl.point_upsert(spark, store, updates, KEYS, N_BUCKETS)

    def lookup(row):
        with tracer.span("etl"):
            found = etl.point_lookup(spark, store, KEYS, list(row[:2]), N_BUCKETS)
            return [tuple(r) for r in found.collect()]

    def rated(row):
        with tracer.span("etl"):
            table = etl.read_bucketed(spark, store)
        return _rated(tracer, table, ref.books, row[0])

    def cycle(row) -> tuple:
        """One write, its read-your-writes lookup, then the user's books."""
        buckets = run.call("write", lambda: upsert(row))
        got = run.call("lookup", lambda: lookup(row))
        books = run.call("rated", lambda: rated(row))
        return buckets, got, books

    def check_cycle(row, outputs) -> None:
        buckets, got, books = outputs
        state["store_rows"] += 1
        _trace_write(tracer, store, buckets, state["store_rows"])
        run.check(got == [row], f"lookup of upserted {row} read back {got}")
        title, author = state["titles"][row[1]]
        want = {"title": title, "author": author, "rating": row[2]}
        run.check(want in books, f"rated books of user {row[0]} miss upserted {want}")

    def one_cycle() -> None:
        row = new_rating()
        ok, outputs = run.attempt("cycle", lambda: cycle(row))
        tracer.flush()
        if ok:
            check_cycle(row, outputs)

    for n in range(SETUPS):
        t0 = time.perf_counter()
        reset_caches(spark)
        ref = _fill_views(tracer, spark, data_dir)
        store = os.path.join(work_dir, f"store{n}")
        etl.write_bucketed(ref.ratings, store, KEYS, N_BUCKETS)
        run.setup_s.append(time.perf_counter() - t0)
        tracer.flush()
        if n == 0:
            state["existing"] = {(r[0], r[1]) for r in ref.ratings.select(*KEYS).collect()}
            state["users"] = sorted(r[0] for r in ref.users.select("user_id").collect())
            state["isbns"] = sorted(r[0] for r in ref.books.select("isbn").collect())
            state["titles"] = {r[0]: (r[1], r[2]) for r in
                               ref.books.select("isbn", "title", "author").collect()}
            base_rows = state["store_rows"] = len(state["existing"])
            # warm-up: the write and scan paths keep getting faster (JIT)
            # for several cycles; the window should not open on that slope
            for _ in range(WARMUP_CYCLES):
                row = new_rating()
                check_cycle(row, cycle(row))
            tracer.flush()
            run.calls.clear()
        else:
            state["store_rows"] = base_rows
        # the window is split over the set-ups (see serve)
        run.measure(seconds / SETUPS, one_cycle)
    run.info["store_rows"] = state["store_rows"]
    return run


def _trace_write(tracer: Tracer, store: str, buckets: list[int], store_rows: int) -> None:
    """Write amplification of one single-row upsert: bytes rewritten in the
    touched buckets over the average bytes of one row in the store."""
    if not tracer.enabled:
        return
    total = rewritten = 0
    for dirpath, _, files in os.walk(store):
        size = sum(os.path.getsize(os.path.join(dirpath, f))
                   for f in files if f.endswith(".parquet"))
        total += size
        if os.path.basename(dirpath) in {f"_bucket={b}" for b in buckets}:
            rewritten += size
    tracer.add("etl.buckets_per_write", len(buckets))
    tracer.add("etl.write_amp", rewritten / (total / store_rows))


# --- output checks -------------------------------------------------------


def _check_build(run: Run, ref, res) -> None:
    """Invariants of one build's outputs (outside any timed section):
    SIMILAR_TO is non-empty, top-k and cutoff hold, it matches
    ``knn_exact_local`` on the same embeddings, every co-rating node has a
    community, and the reported modularity is the recomputed one."""
    sim = res.similar_to
    n_edges = sim.count()
    run.check(n_edges > 0, "SIMILAR_TO is empty")
    most, lowest = sim.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"), F.min("similarity").alias("s")
    ).agg(F.max("n"), F.min("s")).collect()[0]
    run.check(most is not None and most <= KNN_TOP_K,
              f"a source has {most} > {KNN_TOP_K} neighbours")
    run.check(lowest is not None and lowest >= KNN_CUTOFF,
              f"a SIMILAR_TO edge has similarity {lowest} < {KNN_CUTOFF}")
    exact = knn_exact_local(res.embeddings, id_col="user_id", vec_col="embedding",
                            top_k=KNN_TOP_K, cutoff=KNN_CUTOFF)
    want = {(r[0], r[1]) for r in exact.select("src", "dst").collect()}
    got = {(r[0], r[1]) for r in sim.select("src", "dst").collect()}
    recall = len(want & got) / len(want) if want else 1.0
    # below knn_lsh_threshold users run_pipeline documents an exact solve
    run.check(recall == 1.0, f"SIMILAR_TO recall against knn_exact_local is {recall}")

    comm = res.communities
    co = corating_edges(ref.ratings).select(
        F.col("u1").alias("src"), F.col("u2").alias("dst"),
        F.col("weight").cast("double").alias("weight"))
    missing = co.select(F.col("src").alias("user_id")).distinct() \
        .join(comm, "user_id", "left_anti").count()
    run.check(missing == 0, f"{missing} co-rating nodes have no community")
    q = modularity(co, comm.select(F.col("user_id").alias("node_id"), "community"))
    run.check(abs(q - res.modularity) <= 1e-6,
              f"reported modularity {res.modularity} != recomputed {q}")
    run.info.update(similar_to_edges=n_edges, modularity=res.modularity, knn_recall=recall)
