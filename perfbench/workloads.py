"""The benchmark's workloads: scheduled ingest ticks and a query sweep.

Each workload drives the program through its public entry points only:
``fxspark.cli.tick`` and the ``fxspark.queries.QUERIES`` registry, on a
session from ``fxspark.session.get_spark()`` with its defaults, one
closed-loop client in one process. Outputs are checked outside the timed
regions. In the traced run (``--trace 1``) every other operation is traced,
so the same run also gives the untraced figures the tracing overhead is
measured against.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import random
import shutil
import statistics
import time
from collections import defaultdict

import duckdb

import fxgen
import tickcheck
from layertrace import STAGE_FIELDS, Tracer, union_length

# bench.py's headline queries (sf0.1). Each is small, so per-query fixed
# cost (table load, build, planning, scheduling) dominates. The ninth,
# rate_change_report, is left out while it differs from its oracle at sf0.1
# (fxspark/ops/change.py formats a NULL quotient as "nu%"): every run would
# fail its check. Put it back when that is fixed.
HEADLINE = (
    "pricing_summary",
    "revenue_by_nation",
    "latest_event_per_user",
    "top_orders_per_customer",
    "asof_purchase_click",
    "session_stats",
    "daily_rollup",
    "late_shipment_orders",
)

# Ticks run untimed before measuring. The first tick of a fresh JVM costs
# 3-4x a settled one; later ticks keep getting slightly cheaper, so the
# measured window starts at the same tick in every run.
WARMUP_TICKS = 3
# Store depth: about 4 years of daily closes for each of the 110 pairs.
SEED_DAYS = 1000
# Seconds of ``--seconds`` per measured tick and per query execution; they
# size the measured window (see Run.measuring). A query execution costs about
# 1 s on 4 cores. A settled tick with its drop and check costs 3.5-4 s, but
# ticks are counted at 3 s: the tick median needs six samples to be steady
# from run to run, and set-up, not the window, dominates a run's length.
NOMINAL_TICK_S = 3.0
NOMINAL_QUERY_S = 1.0

# Functions traced in a tick, as bound in ``fxspark.cli``'s namespace.
TICK_LAYERS = {
    "json_dir_rates": "sources.json_dir_rates",
    "csv_pairs": "sources.csv_pairs",
    "normalize": "ingest.normalize",
    "observe_checks": "ops.checks.observe_checks",
    "read_table": "sink.read_table",
    "upsert": "sink.upsert",
    "write_table": "sink.write_table",
    "console_report": "sink.console_report",
    "append_run_log": "sink.append_run_log",
}

# Per-layer fields reported for each layer.
TICK_FIELDS = {
    "sources.json_dir_rates": ("wall_s", "jobs", "executor_run_s"),
    "sources.csv_pairs": ("wall_s",),
    "ingest.normalize": ("wall_s",),
    "ops.checks.observe_checks": ("wall_s",),
    "sink.write_table": (
        "wall_s", "driver_s", "job_s", "jobs", "tasks", "executor_run_s",
        "input_bytes", "shuffle_write_bytes", "output_bytes", "output_rows",
        "spill_bytes",
    ),
    "sink.read_table": ("calls", "wall_s"),
    "sink.upsert": ("wall_s",),
    "fx.rate_change_report": ("wall_s",),
    "sink.console_report": ("wall_s", "jobs", "job_s", "executor_run_s", "input_bytes"),
    "sink.append_run_log": ("wall_s",),
}
QUERY_FIELDS = {
    "queries.build": ("wall_s", "jobs", "job_s"),
    "queries.execute": (
        "wall_s", "driver_s", "job_s", "jobs", "stages", "tasks", "executor_run_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ),
    "session.load_table": ("calls", "wall_s", "hits"),
}


class Run:
    """State of one benchmark run, shared by the workload and the CLI."""

    def __init__(self, seed, seconds, trace, work, get_spark):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self._get_spark = get_spark
        self.spark = None
        self.tracer = None
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # kind -> untraced timed samples; traced samples kept apart
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.layer_ops: dict[str, list[dict]] = defaultdict(list)
        self.layer_totals: dict[str, float] = defaultdict(float)
        self.store_bytes_per_row = None
        self.notes: dict = {}

    def start_spark(self):
        t0 = time.perf_counter()
        self.spark = self._get_spark()
        elapsed = time.perf_counter() - t0
        self.setup_s += elapsed
        self.notes["get_spark_s"] = elapsed
        if self.trace:
            self.tracer = Tracer(self.spark)
        return self.spark

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    @contextlib.contextmanager
    def tracing(self, on: bool):
        if self.tracer is None or not on:
            yield
            return
        self.tracer.enabled = True
        try:
            yield
        finally:
            self.tracer.enabled = False

    def measuring(self, nominal_op_s: float, per_pass: int = 1) -> range:
        """Operation numbers of the measured window: a fixed count of whole
        passes of ``per_pass`` operations, sized so they take about
        ``seconds`` at their nominal cost on 4 cores, at least one pass.
        Operations keep getting cheaper while the JVM warms up, so a deadline
        would give fast runs an extra, cheaper sample; a fixed count measures
        the same operations in every run."""
        passes = max(1, round(self.seconds / (nominal_op_s * per_pass)))
        return range(passes * per_pass)


# -- span arithmetic ------------------------------------------------------------
def _subtree(spans: list[dict], rec: dict) -> list[dict]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out, todo = [], [rec]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children[s["id"]])
    return out


def _layer(spans: list[dict], name: str) -> dict:
    """Fields of every span named ``name`` in one operation, each span
    counted with the jobs of its descendants (jobs fired while it was open)."""
    mine = [s for s in spans if s["name"] == name]
    out = {"calls": len(mine), "wall_s": sum(s["end"] - s["start"] for s in mine)}
    out["hits"] = sum(1 for s in mine if s.get("hit"))
    out.update(dict.fromkeys(STAGE_FIELDS, 0.0))
    out["jobs"] = out["stages"] = 0
    intervals = []
    for s in mine:
        for d in _subtree(spans, s):
            out["jobs"] += len(d["job_ids"])
            out["stages"] += d["stages"]
            for key in STAGE_FIELDS:
                out[key] += d[key]
            intervals.extend(d["job_intervals"])
    out["job_s"] = union_length(intervals)
    out["driver_s"] = out["wall_s"] - out["job_s"]
    return out


def _root_self(spans: list[dict], root: dict) -> tuple[float, int]:
    """(self time, own jobs) of an operation's root span."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
    return root["end"] - root["start"] - union_length(kids), len(root["job_ids"])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


# -- ingest_tick ----------------------------------------------------------------
def ingest_tick(run: Run) -> None:
    import fxspark.cli as cli
    import fxspark.fx as fx
    from fxspark import sink

    gen = fxgen.TickInputs(os.path.join(run.work, "inputs"), run.seed, seed_days=SEED_DAYS)
    pairs = gen.write_pairs_csv()
    store = os.path.join(run.work, "store")
    gen.write_seed_store(store)
    log_path = os.path.join(run.work, "run.log")

    spark = run.start_spark()
    if run.tracer is not None:
        for attr, name in TICK_LAYERS.items():
            run.tracer.wrap(cli, attr, name)
        run.tracer.wrap(fx, "rate_change_report", "fx.rate_change_report")

    def one_tick(k: int, traced: bool) -> float | None:
        drop, now, stats = gen.drop(k)
        store_before = dir_bytes(store) if traced else 0
        printed = io.StringIO()
        run.attempted += 1
        try:
            with run.tracing(traced), contextlib.redirect_stdout(printed):
                t0 = time.perf_counter()
                with run.span("cli.tick"):
                    cli.tick(spark, store, rates_dir=drop, pairs_csv=pairs,
                             log_path=log_path, now=now)
                elapsed = time.perf_counter() - t0
        except Exception as exc:  # a failed tick is counted, not fatal
            run.fail(f"tick {k} raised {exc!r}"[:300])
            return None
        finally:
            shutil.rmtree(drop, ignore_errors=True)
        try:
            with open(log_path, encoding="utf-8") as fh:
                last_log = fh.readlines()[-1]
            problems = tickcheck.check_tick(
                store, gen.expected_table(), now, printed.getvalue(), last_log, stats["malformed"]
            )
        except (OSError, IndexError, duckdb.Error) as exc:  # unreadable store or log
            problems = [f"check raised {exc!r}"]
        if problems:
            run.fail(f"tick {k}: " + "; ".join(problems))
        if traced:
            _record_tick_layers(run, stats, store_before)
        return elapsed

    k = 0
    warmup = run.notes["warmup_tick_s"] = []
    for _ in range(WARMUP_TICKS):
        k += 1
        elapsed = one_tick(k, traced=False)
        warmup.append(elapsed)
        run.setup_s += elapsed or 0.0
    run.notes["calibration_before_s"] = calibration(spark)
    for i in run.measuring(NOMINAL_TICK_S):
        k += 1
        traced = run.trace and i % 2 == 1
        elapsed = one_tick(k, traced)
        if elapsed is not None:
            (run.traced_samples if traced else run.samples)["tick"].append(elapsed)
    run.notes["calibration_after_s"] = calibration(spark)
    run.notes["ticks"] = k
    files = sink.read_table(spark, store).inputFiles()
    size = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    run.store_bytes_per_row = size / gen.live_rows()
    run.notes["store_rows"] = gen.live_rows()


def _record_tick_layers(run: Run, stats: dict, store_before: int) -> None:
    tracer = run.tracer
    tracer.resolve()
    root = next(s for s in reversed(tracer.spans) if s["name"] == "cli.tick")
    spans = [s for s in tracer.spans if s["root"] == root["id"]]
    values = {}
    for name, fields in TICK_FIELDS.items():
        layer = _layer(spans, name)
        for f in fields:
            values[f"{name}.{f}"] = layer[f]
    tick = _layer(spans, "cli.tick")
    self_s, self_jobs = _root_self(spans, root)
    values.update({
        "cli.tick.self_s": self_s,
        "cli.tick.self_jobs": self_jobs,
        "cli.tick.jobs": tick["jobs"],
        "cli.tick.executor_run_s": tick["executor_run_s"],
    })
    run.layer_ops["tick"].append(values)
    t = run.layer_totals
    write = _layer(spans, "sink.write_table")
    t["write_rows"] += write["output_rows"]
    t["write_useful_rows"] += stats["inserted"] + stats["changed"]
    t["tick_input_bytes"] += tick["input_bytes"]
    t["tick_min_bytes"] += stats["bytes"] + store_before
    t["write_executor_run_s"] += write["executor_run_s"]
    t["write_job_s"] += write["job_s"]


# -- headline_queries -----------------------------------------------------------
def headline_queries(run: Run) -> None:
    import fxspark.queries as queries
    import fxspark.session as session
    from oracle_diff import compare, duck_connect, run_oracle

    # bench.py's test tables: the sf0.1 sibling of the session's default
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(session.DEFAULT_SF_DIR), "sf0.1")
    )
    order = list(HEADLINE)
    random.Random(run.seed).shuffle(order)
    run.notes["order"] = order
    run.notes["sf_dir"] = sf_dir

    con = duck_connect(sf_dir)
    try:
        want = {name: run_oracle(con, queries.ORACLE[name]) for name in order}
    finally:
        con.close()

    spark = run.start_spark()
    if run.tracer is not None:
        seen: dict[tuple, object] = {}

        def mark_hit(rec, args, df):
            key = tuple(args[1:3])
            rec["hit"] = seen.get(key) is df
            seen[key] = df

        run.tracer.wrap(queries, "load_table", "session.load_table", on_result=mark_hit)

    # Check pass: each query once, collected and compared with its DuckDB
    # oracle. It is also the warm-up; its execution time is set-up time.
    ok = {}
    for name in order:
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            got = queries.QUERIES[name](spark, sf_dir).toPandas()
            run.setup_s += time.perf_counter() - t0
            ok[name] = compare(got, want[name])["ok"]
        except Exception as exc:
            run.fail(f"{name} raised {exc!r}"[:300])
            ok[name] = None
            continue
        if not ok[name]:
            run.fail(f"{name}: output differs from its DuckDB oracle")
    run.notes["oracle_match"] = ok

    run.notes["calibration_before_s"] = calibration(spark)
    # Cycle through the list in whole passes.
    for i in run.measuring(NOMINAL_QUERY_S, per_pass=len(order)):
        name = order[i % len(order)]
        # alternate executions, flipping each pass, so that each query has
        # traced and untraced ones
        traced = run.trace and (i + i // len(order)) % 2 == 1
        run.attempted += 1
        elapsed = _execute(run, queries, name, spark, sf_dir, traced)
        if elapsed is None:
            continue
        if not ok[name]:
            run.fail(f"{name} (execution {i}): its check failed")
        (run.traced_samples if traced else run.samples)[name].append(elapsed)
    run.notes["calibration_after_s"] = calibration(spark)
    run.store_bytes_per_row = _table_bytes_per_row(sf_dir)


def _execute(run, queries, name, spark, sf_dir, traced) -> float | None:
    """One timed query execution: registry build plus a forced noop write."""
    try:
        with run.tracing(traced):
            t0 = time.perf_counter()
            with run.span(f"queries.{name}"):
                with run.span("queries.build"):
                    df = queries.QUERIES[name](spark, sf_dir)
                with run.span("queries.execute"):
                    df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
    except Exception as exc:  # a failed execution is counted, not fatal
        run.fail(f"{name} raised {exc!r}"[:300])
        return None
    if traced:
        _record_query_layers(run, name)
    return elapsed


def _record_query_layers(run: Run, name: str) -> None:
    tracer = run.tracer
    tracer.resolve()
    root = next(s for s in reversed(tracer.spans) if s["name"] == f"queries.{name}")
    spans = [s for s in tracer.spans if s["root"] == root["id"]]
    values = {f"queries.{name}.wall_s": root["end"] - root["start"]}
    for layer_name, fields in QUERY_FIELDS.items():
        layer = _layer(spans, layer_name)
        for f in fields:
            values[f"{layer_name}.{f}"] = layer[f]
    run.layer_ops[name].append(values)
    execute = _layer(spans, "queries.execute")
    run.layer_totals["execute_executor_run_s"] += execute["executor_run_s"]
    run.layer_totals["execute_job_s"] += execute["job_s"]


def _table_bytes_per_row(sf_dir: str) -> float:
    import pyarrow.parquet as pq

    from fxspark.session import TABLES

    size = rows = 0
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        size += os.path.getsize(path)
        rows += pq.ParquetFile(path).metadata.num_rows
    return size / rows


# -- shared measurements --------------------------------------------------------
def calibration(spark) -> float:
    """Median of 3 runs of a fixed micro-query (no I/O, one shuffle), the same
    probe bench.py uses: a drift between the readings before and after the
    measured window flags a loaded host, not a program change."""
    from pyspark.sql import functions as F

    def probe():
        t0 = time.perf_counter()
        spark.range(2_000_000).select(
            F.pmod(F.col("id") * 2654435761, F.lit(1000)).alias("k"),
            F.col("id").alias("v"),
        ).groupBy("k").agg(F.sum("v").alias("s")).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    return statistics.median(probe() for _ in range(3))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and that
    percentile; with fewer than 11 samples, the maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n


def op_p50(samples: dict[str, list[float]]) -> float:
    """The median over operation kinds of each kind's median time. Query
    costs cluster by query with gaps between them, so a median pooled over
    all executions would fall in a gap and jump with one execution."""
    return statistics.median(statistics.median(vs) for vs in samples.values())


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer metrics of a traced run: for each operation kind the median
    over its traced operations, summed over kinds (a tick, or one pass over
    the query list); ratios from totals over all traced operations."""
    out: dict[str, float] = defaultdict(float)
    for ops in run.layer_ops.values():
        for key in ops[0]:
            out[key] += statistics.median(op[key] for op in ops)
    t = run.layer_totals
    cores = run.spark.sparkContext.defaultParallelism
    if "tick" in run.layer_ops:
        out["sink.write_table.core_util"] = t["write_executor_run_s"] / (t["write_job_s"] * cores)
        out["sink.write_amplification"] = t["write_rows"] / t["write_useful_rows"]
        out["cli.tick.scan_amplification"] = t["tick_input_bytes"] / t["tick_min_bytes"]
    else:
        out["queries.execute.core_util"] = t["execute_executor_run_s"] / (
            t["execute_job_s"] * cores
        )
        hits = out.pop("session.load_table.hits")
        out["session.load_table.hit_ratio"] = hits / out["session.load_table.calls"]
    out["session.get_spark.wall_s"] = run.notes["get_spark_s"]
    untraced = op_p50(run.samples)
    traced = op_p50(run.traced_samples)
    out["trace.op_p50_untraced_s"] = untraced
    out["trace.op_p50_traced_s"] = traced
    out["trace.overhead_s"] = traced - untraced
    return dict(out)


WORKLOADS = {"ingest_tick": ingest_tick, "headline_queries": headline_queries}
