"""The benchmark's workloads. Each drives the program only through its
public functions and returns the raw samples ``metrics.py`` reduces.

- ``cdc_trickle``: near-real-time triggering against a preloaded fact.
  One closed-loop caller lands a customer delta CSV and one change file,
  then runs ``run_customer_dim`` -> ``run_booking_fact_stream`` ->
  ``refresh_booking_aggregation`` (the steps of ``run_all``) and waits for
  them before landing the next wave, like the reference pipeline, which is
  triggered by hand and has no schedule. Per-trigger fixed cost and write
  amplification dominate: a wave of ~2.5 % of the fact rewrites every
  bucket it touches.
- ``registry``: a fixed subset of ``queries.QUERIES`` over the read-only
  tables in ``perfbench/data``. No writes; it shows whether a CDC change
  leaves the read-only analytics path flat, and the reverse.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext

from check import check_query_count, check_warehouse
from gen import CdcGenerator, land
from spans import TracedMergeTable, Tracer

from airbnb_cdc_spark import queries
from airbnb_cdc_spark.operators.merge import ParquetMergeTable
from airbnb_cdc_spark.plans import pipelines
from airbnb_cdc_spark.streaming.cdc import run_booking_fact_stream

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")

# cdc_trickle sizes. The dim has the sf0.1 `customer` cardinality; a wave
# is ~2.5 % of the preloaded fact (a larger preload barely moves a wave,
# whose cost is per-trigger overhead, but costs set-up time the run
# budget does not have).
CUSTOMERS = 15_000
PRELOAD_FILES = 2
PRELOAD_PER_FILE = 10_000
WAVE_CUSTOMERS = 150
WAVE_INSERTS = 500
SETUP_REPS = 3  # timed, after one untimed cold rep
MIN_STEPS = 3
WARMUP_PASSES = 3  # registry


class Run:
    """What one benchmark run shares: its session, work dir and tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def schedule(self):
        """Yield, per timed step, whether it is traced, until the run's
        seconds are up and at least ``MIN_STEPS`` steps ran. An untraced
        run's steps are all untraced. A traced run alternates traced and
        untraced steps for twice as long, so its tracing overhead comes
        from untraced steps of its own; the tracer records nothing during
        the untraced ones."""
        kinds = (True, False) if self.traced else (False,)
        deadline = time.perf_counter() + self.seconds * len(kinds)
        i = 0
        while i < MIN_STEPS * len(kinds) or time.perf_counter() < deadline:
            self.tracer.enabled = kinds[i % len(kinds)]
            yield self.tracer.enabled
            i += 1
        self.tracer.enabled = self.traced


class _Listener:
    """Collects StreamingQueryListener events by run id (traced runs).
    It is attached only around traced waves, so every query it saw
    belongs to one."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = {}

        class L(StreamingQueryListener):
            def onQueryStarted(self, e):
                events.setdefault(str(e.runId), {"progress": [], "done": False})

            def onQueryProgress(self, e):
                p = e.progress
                rec = events.setdefault(str(p.runId), {"progress": [], "done": False})
                rec["progress"].append({"rows": p.numInputRows, "ms": dict(p.durationMs)})

            def onQueryIdle(self, e):
                pass

            def onQueryTerminated(self, e):
                events.setdefault(str(e.runId), {"progress": [], "done": False})["done"] = True

        self.listener = L()
        self.streams = spark.streams

    @contextmanager
    def attached(self):
        """Listen during the block; events arrive asynchronously, so on
        leaving it wait (up to 30 s) until every query seen has ended."""
        self.streams.addListener(self.listener)
        try:
            yield
        finally:
            deadline = time.time() + 30
            while not all(r["done"] for r in self.events.values()) and time.time() < deadline:
                time.sleep(0.02)
            self.streams.removeListener(self.listener)


class _Warehouse:
    def __init__(self, run: Run, base: str) -> None:
        self.raw, self.archive = f"{base}/raw", f"{base}/archive"
        self.feed, self.checkpoint = f"{base}/feed", f"{base}/checkpoint"
        wh = f"{base}/warehouse"
        self.wh = wh
        spark, tracer = run.spark, run.tracer

        def table(name, keys, label, **kw):
            if run.traced:
                return TracedMergeTable(spark, f"{wh}/{name}", keys, tracer=tracer, label=label, **kw)
            return ParquetMergeTable(spark, f"{wh}/{name}", keys, **kw)

        self.dim = table("dim_customer", ["customer_id"], "dim")
        self.fact = table("fact_booking", ["booking_id"], "fact", version_col="updated_at")
        self.agg = table("booking_customer_aggregation", ["country"], "agg")

    def refresh(self, run: Run) -> None:
        """The three steps of ``run_all`` over whatever has landed."""
        spark, span = run.spark, run.tracer.span
        with span("plans.dim_load"):
            pipelines.run_customer_dim(spark, self.raw, self.archive, self.dim)
        with span("plans.fact_load"):
            run_booking_fact_stream(spark, self.feed, self.fact, self.checkpoint)
        with span("plans.agg_refresh"):
            pipelines.refresh_booking_aggregation(spark, self.fact, self.dim, self.agg)


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_"))
    )


def cdc_trickle(run: Run) -> dict:
    gen = CdcGenerator(run.seed)
    base_csv = gen.customer_csv(range(1, CUSTOMERS + 1), "base")
    preload = [gen.booking_file(PRELOAD_PER_FILE) for _ in range(PRELOAD_FILES)]

    # Set-up loads a fresh warehouse 1 + SETUP_REPS times and keeps the
    # last. The first, untimed, load pays the JVM's first-use costs (JIT,
    # code generation), which would otherwise fall on one timed rep.
    setup = []
    for rep in range(SETUP_REPS + 1):
        wh = _Warehouse(run, f"{run.work}/trickle/rep{rep}")
        land(f"{wh.raw}/customer_0000_base.csv", base_csv)
        for i, text in enumerate(preload):
            land(f"{wh.feed}/booking_{i:06d}.json", text)
        t0 = time.perf_counter()
        with run.tracer.span("setup"):
            pipelines.run_customer_dim(run.spark, wh.raw, wh.archive, wh.dim)
            run_booking_fact_stream(run.spark, wh.feed, wh.fact, wh.checkpoint)
        if rep:
            setup.append(time.perf_counter() - t0)
            shutil.rmtree(f"{run.work}/trickle/rep{rep - 1}")

    landed = 0

    def land_wave() -> int:
        """Land the next wave's customer delta and change file; return
        the rows landed."""
        nonlocal landed
        csv_text = gen.customer_csv(gen.delta_ids(WAVE_CUSTOMERS), f"w{landed}")
        feed_text = gen.booking_file(WAVE_INSERTS)
        land(f"{wh.raw}/customer_{landed + 1:04d}.csv", csv_text)
        land(f"{wh.feed}/booking_{PRELOAD_FILES + landed:06d}.json", feed_text)
        landed += 1
        return WAVE_CUSTOMERS + feed_text.count("\n")

    # One untimed warm-up wave: the first merge into non-empty tables and
    # the first aggregate refresh compile code every later wave reuses.
    land_wave()
    with run.tracer.span("warmup_wave"):
        wh.refresh(run)

    listener = _Listener(run.spark) if run.traced else None
    waves = {True: [], False: []}  # traced? -> [(seconds, rows landed, span id)]
    for traced in run.schedule():
        rows = land_wave()
        with listener.attached() if traced else nullcontext():
            t0 = time.perf_counter()
            with run.tracer.span("wave") as rec:
                wh.refresh(run)
            elapsed = time.perf_counter() - t0
        waves[traced].append((elapsed, rows, rec["id"] if rec else None))

    # one check of the final state covers every wave that built it
    run.attempted += landed
    try:
        problems = check_warehouse(wh.wh, gen)
    except Exception as e:  # a checker crash is a failed check, reported by name
        problems = [f"checker raised {type(e).__name__}: {e}"]
    run.problems += problems
    run.failed += landed if problems else 0
    live_rows = len(gen.dim) + len(gen.fact)
    timed = waves[run.traced]
    return {
        "setup": setup,
        "steps": [t for t, _, _ in timed],
        "untraced_steps": [t for t, _, _ in waves[False]],
        # rows landed per second of the median wave
        "throughput": statistics.median(r / t for t, r, _ in timed),
        "rows_in": sum(r for _, r, _ in timed),
        "store_bytes_per_row": _bytes_under(wh.wh) / live_rows,
        "step_spans": [sid for _, _, sid in timed if sid is not None],
        "tables": [wh.dim, wh.fact],
        "stream_events": listener.events if listener else {},
    }


# Registry subset: the whole registry does not fit the run budget (at
# sf0.001 on 4 cores a cold pass takes minutes and a warm pass ~90 s), so
# the benchmark runs one or two queries of each operator family, each
# under ~1 s warm. The count is odd so that the median query time sits on
# one query's samples, not between the two middle queries' extremes.
# dedup_simhash_cluster builds a derive-once store, so set-up pays a
# store build the warm passes skip. Oracle counts for every
# registered query are stored in oracle_counts.json, so the subset can
# change without recomputing them.
REGISTRY_SUBSET: tuple[str, ...] = (
    "dedup_embedding_cosine",
    "dedup_exact", "dedup_simhash_cluster",
    "doc_fingerprint", "language_id",
    "booking_customer_aggregation", "conditional_split_accepted",
)


FAMILIES = ("similarity", "dedup", "text", "other")
FAMILY_MODULES = (
    ("similarity", "airbnb_cdc_spark.operators.similarity"),
    ("dedup", "airbnb_cdc_spark.operators.dedup"),
    ("text", "airbnb_cdc_spark.operators.text"),
)


def _reached_modules(fn, depth: int = 4) -> set[str]:
    """Modules of ``airbnb_cdc_spark`` that ``fn`` references, following
    helper functions of the same package ``depth`` calls deep."""
    import types

    seen_fns, mods = set(), set()
    todo = [(fn, 0)]
    while todo:
        f, d = todo.pop()
        if id(f) in seen_fns or d > depth:
            continue
        seen_fns.add(id(f))
        codes = [f.__code__]
        names = set()
        while codes:
            c = codes.pop()
            names.update(c.co_names)
            codes += [k for k in c.co_consts if isinstance(k, types.CodeType)]
        for n in names:
            v = f.__globals__.get(n)
            if isinstance(v, types.ModuleType) and v.__name__.startswith("airbnb_cdc_spark"):
                mods.add(v.__name__)
            elif isinstance(v, types.FunctionType) and v.__module__.startswith("airbnb_cdc_spark"):
                mods.add(v.__module__)
                todo.append((v, d + 1))
    return mods


def family(name: str) -> str:
    """The operator family a registered query belongs to: the first of
    similarity, dedup, text whose module its code reaches, else other."""
    mods = _reached_modules(queries.QUERIES[name])
    for fam, mod in FAMILY_MODULES:
        if mod in mods:
            return fam
    return "other"


def registry(run: Run) -> dict:
    with open(os.path.join(HERE, "oracle_counts.json")) as f:
        oracle = json.load(f)

    def construct(sf_dir: str, name: str):
        with run.tracer.span("queries.construct"):
            return queries.QUERIES[name](run.spark, sf_dir)

    # Set-up: construct every subset query on a fresh copy of the tables.
    # A new directory is a new dataset to the registry's per-directory
    # table memo and derive-once stores, so each rep pays their builds.
    # The first copy is untimed: it pays the JVM's first-use costs (JIT,
    # code generation, imports), which would otherwise fall on one rep.
    setup = []
    for rep in range(SETUP_REPS + 1):
        sf_dir = f"{run.work}/registry/sf{rep}"
        shutil.copytree(DATA_DIR, sf_dir)
        t0 = time.perf_counter()
        for name in REGISTRY_SUBSET:
            with run.tracer.span("cold_query", query=name):
                construct(sf_dir, name)
        if rep:
            setup.append(time.perf_counter() - t0)

    def one_pass(kind: str, samples: list) -> None:
        for name in REGISTRY_SUBSET:
            run.attempted += 1
            with run.tracer.span(kind, query=name) as rec:
                t0 = t1 = time.perf_counter()
                try:
                    df = construct(sf_dir, name)
                    t1 = time.perf_counter()
                    with run.tracer.span("queries.action"):
                        n = df.count()
                    problems = check_query_count(name, n, oracle)
                except Exception as e:  # one broken query must not hide the rest
                    problems = [f"{name} raised {type(e).__name__}: {e}"]
                t2 = time.perf_counter()
            run.problems += problems
            run.failed += bool(problems)
            samples.append({
                "name": name, "construct": t1 - t0, "action": t2 - t1,
                "span": rec["id"] if rec else None,
            })

    # Untimed warm-up passes: the first actions compile their plans, and
    # query times keep falling (JIT) until about the third pass.
    for _ in range(WARMUP_PASSES):
        one_pass("warmup_query", [])
    queries_by = {True: [], False: []}  # traced? -> per-query samples
    pass_s = {True: [], False: []}
    for traced in run.schedule():
        t0 = time.perf_counter()
        one_pass("query", queries_by[traced])
        pass_s[traced].append(time.perf_counter() - t0)
    warm = queries_by[run.traced]

    def step_times(samples: list) -> list[float]:
        return [s["construct"] + s["action"] for s in samples]

    return {
        "setup": setup,
        "steps": step_times(warm),
        "untraced_steps": step_times(queries_by[False]),
        # the median pass, so one disturbed pass does not move it
        "throughput": len(REGISTRY_SUBSET) / statistics.median(pass_s[run.traced]),
        "passes": len(pass_s[run.traced]),
        "warm": warm,
        "step_spans": [s["span"] for s in warm if s["span"] is not None],
    }


WORKLOADS = {"cdc_trickle": cdc_trickle, "registry": registry}
