"""The nightly-ETL workloads: set-up, the timed closed loop, and the
correctness gate.

One caller, closed loop: the next day (or query) starts when the previous
one returns, as a nightly scheduler and a single analyst would. Set-up seeds
the warehouse through the program's writers and replays its last day as the
warm-up. Each timed cycle is one pipeline day (day-slice read included)
followed by one pass of the analyst read mix over the warehouse that day
left; cycles repeat until ``--seconds`` of timed work have run.

A traced run runs one cycle unwrapped (the reference day for
``trace.overhead_ratio``) and the others traced; a traced run of
``nightly_large`` then runs the corpus-curation report under ``llm.*`` spans.
"""

from __future__ import annotations

import contextlib
import glob
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import date, timedelta

from ecommerce_full_etl_process_spark import demo
from ecommerce_full_etl_process_spark.operators import facts as facts_op
from ecommerce_full_etl_process_spark.operators import snapshot as snapshot_op
from ecommerce_full_etl_process_spark.operators import validation as validation_op
from ecommerce_full_etl_process_spark.plans import audit, pipeline, reporting
from ecommerce_full_etl_process_spark.plans import llm_queries
from ecommerce_full_etl_process_spark.schemas import PRODUCTS, TRANSACTIONS, USERS
from ecommerce_full_etl_process_spark.session import get_spark
from ecommerce_full_etl_process_spark.sources import io as io_mod
from ecommerce_full_etl_process_spark.sources import scale_corpus
from ecommerce_full_etl_process_spark.sources.io import TableStore
from pyspark.sql import functions as F

from . import metrics, reads, storage
from .gen import DayInput, Shape, World, write_day
from .seed import History, seed_warehouse
from .trace import Tracer, event_log_files, parse_event_log

# the driver heap is part of every workload: a fixed cap, smaller than the
# program's 8g default, so that a run stays within a few GB of memory
DRIVER_HEAP = "2g"
# and so is the collector. G1 grows the heap when its measured share of
# pause time runs high, so on a shared host its footprint follows the host's
# load (peak_rss_mb spread by up to 0.26 between runs); the serial collector
# sizes the heap from the data left live after each full collection, so
# peak_rss_mb follows what the program keeps
DRIVER_JAVA_OPTIONS = "-XX:+UseSerialGC"
# the corpus a traced run curates: documents and embedding vectors, with
# ids offset by the seed (they must stay below llm_queries.OFFSET)
CORPUS_DOCS, CORPUS_VECS = 10_000, 4_000
FIRST_DAY = date(2026, 1, 1)  # the first timed day


@dataclass(frozen=True)
class Workload:
    shape: Shape
    history: History
    # the traced run also curates a corpus (``llm.*`` spans); one workload
    # carries it, because it adds ~15 s to a run
    corpus_report: bool = False


WORKLOADS = {
    # per-row layers: big batches over a warehouse holding one earlier day
    # of the same size (replayed as the warm-up, so that the timed days find
    # the JIT warm for big batches)
    "nightly_large": Workload(
        Shape(n_users=25_000, n_products=2_500, lines_per_day=60_000),
        History(days=1, n_facts=0, n_error_rows=0),
        corpus_report=True,
    ),
    # fixed per-run cost and scans of accumulated state: small batches over
    # a month of daily partitions, SCD2 history and error log
    "nightly_deep_history": Workload(
        Shape(n_users=25_000, n_products=2_500, lines_per_day=2_000),
        History(days=30, n_facts=150_000, n_error_rows=20_000),
    ),
}


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    day_s: list[float] = field(default_factory=list)
    rows_per_s: list[float] = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    growth_bytes: int = 0
    input_bytes: int = 0
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0
    layer: dict[str, dict] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED: {what}", file=sys.stderr)
        return ok


def _log(t_start: float, msg: str) -> None:
    print(f"[{time.perf_counter() - t_start:7.2f} s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _day_frames(spark, d: DayInput):
    return (
        io_mod.read_day_slice(spark, d.paths["users"], d.day.isoformat())
        .select(*USERS.fieldNames()),
        io_mod.read_day_slice(spark, d.paths["products"], d.day.isoformat())
        .select(*PRODUCTS.fieldNames()),
        io_mod.read_day_slice(spark, d.paths["transactions"], d.day.isoformat())
        .select(*TRANSACTIONS.fieldNames()),
    )


def run_day(spark, store: TableStore, d: DayInput):
    """One timed unit: read the day's slice and run the pipeline on it."""
    users, products, transactions = _day_frames(spark, d)
    return pipeline.run(spark, store, d.day, users, products, transactions)


def reconcile(store: TableStore, summary, counters: dict, breakdown: dict) -> list[str]:
    """Misses of a finished day against its ledger (empty = reconciled)."""
    misses = []
    if summary.status != "success":
        misses.append(f"status {summary.status}")
    for k, want in counters.items():
        if summary.counters.get(k) != want:
            misses.append(f"{k}: got {summary.counters.get(k)} want {want}")
    got = {
        (r["error_type"], r["severity"]): r["n"]
        for r in reporting.error_breakdown(store, summary.run_id).collect()
    }
    if got != breakdown:
        misses.append(f"error breakdown: got {got} want {breakdown}")
    return misses


def _dim_rows(root: str) -> int:
    stats = storage.table_stats(root, ("dim_user", "dim_product"))
    return stats["dim_user"]["rows"] + stats["dim_product"]["rows"]


def trace_targets():
    def scd2_name(args):
        return "scd2.scd2_merge." + ("user" if args[2].natural_key == "user_id" else "product")

    def add(key, value_of):
        def on_result(tracer, result):
            tracer.counts[key] += value_of(result)
        return on_result

    return [
        (pipeline, "run", "pipeline.run", None),
        (validation_op, "validate_all", "validation.validate_all", None),
        (pipeline, "missing_dim_date_rows", "dims.missing_dim_date_rows", None),
        (pipeline, "scd2_merge", scd2_name, None),
        (snapshot_op, "stock_history_delta", "snapshot.stock_history_delta", None),
        (facts_op, "load_fact_transactions", "facts.load_fact_transactions",
         add("facts.skipped_dupe", lambda r: r.n_skipped_dupe)),
        (audit, "start_run", "audit.start_run", None),
        (audit, "append_errors", "audit.append_errors", add("audit.error_rows", int)),
        (audit, "run_error_counts", "audit.run_error_counts", None),
        (audit, "finish_run", "audit.finish_run", None),
        (TableStore, "read", "io.read", None),
        (io_mod, "read_day_slice", "io.read", None),
        (TableStore, "append", "io.append", None),
        (TableStore, "overwrite", "io.overwrite", None),
    ]


def corpus_targets():
    """The ``demo.corpus_report`` chain; it looks these up on the module at
    call time, so the wrappers are seen."""
    return [(llm_queries, f, f"llm.{f}", None) for f in (
        "corpus_prep_pipeline", "minhash_lsh_neardups", "token_budget_packing",
        "embedding_quantization")]


def _spark(workdir: str, cores: int, traced: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@dataclass
class TracedTally:
    """What the traced run adds up over its traced days and queries."""

    tracer: Tracer
    wall_s: float = 0.0  # traced day, query and corpus-report time
    dim_versions: int = 0
    dim_rows_rewritten: int = 0
    rejected: int = 0
    loaded: int = 0
    input_rows: int = 0
    plain_day_s: list[float] = field(default_factory=list)
    traced_day_s: list[float] = field(default_factory=list)


def _tracing(tally: TracedTally | None, targets):
    return tally.tracer.installed(targets()) if tally else contextlib.nullcontext()


def _setup(spark, store: TableStore, root: str, oltp: str, wl: Workload, seed: int,
           out: Outcome, t_start: float):
    """Seed the warehouse and replay its last day as the warm-up. The
    replay must succeed and insert nothing (facts, dim versions, stock
    rows) while logging the day's validation errors again."""
    start = FIRST_DAY - timedelta(days=wl.history.days)
    world = World(seed, wl.shape, start)
    seeded = write_day(oltp, seed_warehouse(spark, store, world, wl.history, seed))
    _log(t_start, "warehouse seeded")
    dims_before = _dim_rows(root)
    replay = run_day(spark, store, seeded)
    misses = reconcile(
        store, replay,
        {k: 0 if k.endswith("_inserted") else v for k, v in seeded.ledger.counters.items()},
        seeded.ledger.breakdown,
    )
    if _dim_rows(root) != dims_before:
        misses.append("replay wrote dim versions")
    out.check(not misses, f"replay of seeded day {seeded.day}: {misses}")
    return world, start + timedelta(days=wl.history.days // 2)


def _timed_day(spark, store: TableStore, root: str, d: DayInput, out: Outcome,
               tally: TracedTally | None) -> float | None:
    """Time one day and reconcile it; None if it raised."""
    dims_before = _dim_rows(root)
    bytes_before = storage.tree_bytes(root)
    if tally:
        tally.tracer.trace = f"day {d.day}"
    try:
        with _tracing(tally, trace_targets):
            t = time.perf_counter()
            summary = run_day(spark, store, d)
            dt = time.perf_counter() - t
    except Exception:  # the day is the op boundary: count, report, stop
        traceback.print_exc()
        out.check(False, f"day {d.day} raised")
        return None
    out.growth_bytes += storage.tree_bytes(root) - bytes_before
    out.input_bytes += d.input_bytes
    misses = reconcile(store, summary, d.ledger.counters, d.ledger.breakdown)
    dims_after = _dim_rows(root)
    if dims_after - dims_before != d.ledger.user_versions + d.ledger.product_versions:
        misses.append(f"dim versions: {dims_after - dims_before}")
    if out.check(not misses, f"day {d.day}: {misses}"):
        out.day_s.append(dt)
        out.rows_per_s.append(d.ledger.input_rows / dt)
    if tally:
        tally.wall_s += dt
        tally.traced_day_s.append(dt)
        tally.dim_versions += dims_after - dims_before
        tally.dim_rows_rewritten += dims_after
        tally.rejected += summary.error_count
        tally.loaded += summary.counters.get("rows_fact_transactions_inserted", 0)
        tally.input_rows += d.ledger.input_rows
    return dt


def _read_mix(store: TableStore, want: dict, as_of: date, out: Outcome,
              tally: TracedTally | None) -> float:
    """One pass of the analyst read mix, each answer checked against the
    oracle. Traced, each query is a span and the program's functions are
    wrapped too, so ``io.read`` spans nest inside it. Returns query time."""
    spent, timings = 0.0, []
    if tally:
        tally.tracer.trace = f"read mix after {as_of}"
    with _tracing(tally, trace_targets):
        for qname, query in reads.query_mix(store, as_of):
            t = time.perf_counter()
            try:
                got = tally.tracer.call(qname, query) if tally else query()
            except Exception:
                traceback.print_exc()
                got = None
            qt = time.perf_counter() - t
            spent += qt
            timings.append(f"{qname.split('.')[-1]}={qt:.2f}")
            if out.check(reads.same_answer(got, want[qname]),
                         f"{qname}: {got} != {want[qname]}"):
                out.query_s.append(qt)
    if tally:
        tally.wall_s += spent
    print("read mix: " + " ".join(timings), file=sys.stderr)
    return spent


def _cycle(spark, store: TableStore, root: str, oltp: str, world: World, as_of: date,
           workdir: str, out: Outcome, tally: TracedTally | None, t_start: float,
           read_mix: bool = True) -> float | None:
    """One timed cycle: a pipeline day, then the read mix over what it
    left. Returns the timed seconds, or None if the day raised."""
    d = write_day(oltp, world.next_day())
    dt = _timed_day(spark, store, root, d, out, tally)
    if dt is None:
        return None
    _log(t_start, f"day {d.day}{' (traced)' if tally else ''}: {dt:.2f} s")
    if not read_mix:
        return dt
    want = reads.oracle_answers(root, as_of, os.path.join(workdir, "duckdb"))
    spent = _read_mix(store, want, as_of, out, tally)
    qa = dict(want["demo.qa_checks"])
    out.check(not any(qa.values()), f"QA checks not all zero after {d.day}: {qa}")
    return dt + spent


def _corpus_report(spark, seed: int, workdir: str, out: Outcome, tally: TracedTally,
                   t_start: float) -> None:
    """Curate a corpus generated from the seed through ``demo.corpus_report``
    under ``llm.*`` spans; every PASS invariant of the report must hold."""
    corpus = os.path.join(workdir, "corpus")
    first = (seed % 90) * CORPUS_DOCS  # ids stay below llm_queries.OFFSET
    for name, gen, n in (("documents", scale_corpus.gen_documents, CORPUS_DOCS),
                         ("embeddings", scale_corpus.gen_embeddings, CORPUS_VECS)):
        rows = gen(spark, first + n, _cores())
        rows.where(F.col(rows.columns[0]) >= first).write.parquet(
            os.path.join(corpus, f"{name}.parquet"))
    t = time.perf_counter()
    tally.tracer.trace = "corpus report"
    try:
        with tally.tracer.installed(corpus_targets()), \
                contextlib.redirect_stdout(sys.stderr):
            ok = tally.tracer.call("demo.corpus_report", demo.corpus_report,
                                   spark, corpus) == 0
    except Exception:
        traceback.print_exc()
        ok = False
    tally.wall_s += time.perf_counter() - t
    out.check(ok, "corpus report invariants")
    _log(t_start, f"corpus report: {time.perf_counter() - t:.2f} s")


def run(name: str, seed: int, seconds: float, traced: bool, workdir: str,
        t_start: float, spans_path: str | None = None) -> Outcome:
    wl = WORKLOADS[name]
    out = Outcome()
    cores = _cores()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _spark(workdir, cores, traced)
        session_s = time.perf_counter() - t0
        root, oltp = os.path.join(workdir, "warehouse"), os.path.join(workdir, "oltp")
        store = TableStore(spark, root)
        world, as_of = _setup(spark, store, root, oltp, wl, seed, out, t_start)
        out.setup_s = time.perf_counter() - t_start
        _log(t_start, "set-up done (seeding and warm-up replay)")

        tally = TracedTally(Tracer(spark.sparkContext)) if traced else None
        if tally:
            tally.tracer.record("session.get_spark", session_s)
        # one cycle of a traced run runs unwrapped: its day is the reference
        # for trace.overhead_ratio. It is the first cycle for odd seeds and
        # the second for even ones: the second day after the warm-up tends to
        # run a little faster, and over many runs that favours neither side.
        measured, cycles, reference = 0.0, 0, seed % 2 == 0
        while measured < seconds or cycles < (2 if tally else 1):
            wrapped = tally is not None and cycles != reference
            # the reference cycle of a traced run skips the read mix
            spent = _cycle(spark, store, root, oltp, world, as_of, workdir, out,
                           tally if wrapped else None, t_start,
                           read_mix=tally is None or wrapped)
            if spent is None:
                break
            if tally and not wrapped:
                tally.plain_day_s.append(out.day_s[-1])
            cycles += 1
            measured += spent
        if tally and wl.corpus_report:
            _corpus_report(spark, seed, workdir, out, tally, t_start)

        out.peak_rss_mb = metrics.peak_rss_mb()
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        _log(t_start, f"JVM GC time: {sum(b.getCollectionTime() for b in beans) / 1000:.2f} s")
        if tally:
            tables = storage.table_stats(root)
            _stop(spark)
            spark = None  # the event log is complete only once Spark stops
            groups = parse_event_log(event_log_files(os.path.join(workdir, "events")))
            if spans_path:
                tally.tracer.write_spans(spans_path)
                _log(t_start, f"spans written to {spans_path}")
            overhead = (statistics.median(tally.traced_day_s)
                        / statistics.median(tally.plain_day_s) - 1.0
                        if tally.traced_day_s and tally.plain_day_s else 0.0)
            out.layer = metrics.per_layer(
                tally.tracer, groups, tables, cores, tally.wall_s,
                counts={
                    "validation.rejected_ratio": tally.rejected / max(tally.input_rows, 1),
                    "scd2.useful_write_ratio":
                        tally.dim_versions / max(tally.dim_rows_rewritten, 1),
                    "facts.rows_loaded": tally.loaded,
                },
                overhead_ratio=overhead,
            )
    finally:
        if spark is not None:
            _stop(spark)
    return out


def _descendants(pid: int) -> list[int]:
    """Pids below ``pid`` in the process tree (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched, and the JVM's own
    children, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_running(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in workers:
        if _running(p):
            os.kill(p, signal.SIGKILL)
