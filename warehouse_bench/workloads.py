"""The workloads: olap_star and etl_live.

Each takes a ``Ctx`` (session, run directory, seed, seconds, optional
tracer) and returns an ``Outcome``: the primary latency samples, the
throughput, attempted/failed counts, the set-up repetitions, the
per-layer numbers (only filled in by the traced run) and the facts the
report records (input sizes, schedule). README.md explains why each
workload exists and which layers it stresses or bypasses.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import checks
import datagen
from spans import Tracer

PKG = "near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark"

# Data scale of the generated star (sf 1 = 6M lineitem rows); query
# time on this engine is dominated by per-query planning and job
# scheduling, not by rows, at any scale that fits the run budget.
OLAP_SF = 0.005
ETL_SF = 0.005
# The program's one-time materialisations are repeated this many
# times per run; setup_s reports the median.
SETUP_REPS = 3
# OLAP: whole rounds of q00-q17 are measured, at least this many.
OLAP_MIN_ROUNDS = 2
# etl_live: open loop, one file every LIVE_PERIOD_S seconds.
LIVE_PERIOD_S = 0.25
LIVE_ROWS_PER_FILE = 150
LIVE_WARMUP_FILES = 1
COMMIT_TIMEOUT_S = 90.0
STORE_MOD = datagen.STORE_MOD


@dataclass
class Ctx:
    seed: int
    seconds: int
    run_dir: str
    spark: object
    tracer: Tracer | None

    def memory_mb(self) -> dict[str, float]:
        """Memory the run holds once its measured phase ends, in MB.
        ``retained`` is what does not come and go with garbage
        collection: the Spark JVM's cached RDD blocks and its non-heap
        memory in use (code, class metadata), plus the driver process's
        resident memory. Both processes' peak resident memory is kept
        as a diagnostic: the JVM's depends on when its heap happened to
        grow."""
        jsc = self.spark.sparkContext._jsc.sc()
        cached = sum(info.memSize() for info in jsc.getRDDStorageInfo())
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        non_heap = mx.getNonHeapMemoryUsage().getUsed()
        driver = _status_mb("self", "VmRSS")
        return {
            "retained": (cached + non_heap) / 2**20 + driver,
            "jvm_cached": cached / 2**20,
            "jvm_non_heap": non_heap / 2**20,
            "driver_rss": driver,
            "jvm_peak_rss": _status_mb(self.spark.sparkContext._gateway.proc.pid, "VmHWM"),
            "driver_peak_rss": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)


def _status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)
    throughput: float = 0.0
    attempted: int = 0
    failed: int = 0
    setup_reps: list[float] = field(default_factory=list)
    memory_mb: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    # the same numbers under the names the workload's users know them by
    aliases: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are fewer than 11."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return (s[-1] if s else 0.0), 100.0
    return s[n - 11], 100.0 * (n - 10) / n


# ---------------------------------------------------------------- OLAP


def olap_query_names() -> list[str]:
    from importlib import import_module

    queries = import_module(f"{PKG}.plans.queries")
    # q18-q21 write (maintained-aggregate lifecycles): not read-only
    return sorted(n for n in queries.OLAP_QUERIES if int(n[1:3]) <= 17)


def olap_star(ctx: Ctx) -> Outcome:
    from importlib import import_module

    star = import_module(f"{PKG}.plans.star")
    fact_store = import_module(f"{PKG}.plans.fact_store")
    queries = import_module(f"{PKG}.plans.queries")
    oracles = import_module(f"{PKG}.plans.oracles")
    spark, out = ctx.spark, Outcome()
    sf_dir = os.path.join(ctx.run_dir, "star")
    sizes = datagen.write_star(sf_dir, OLAP_SF, ctx.seed).sizes
    out.info.update(sf=OLAP_SF, lineitem_rows=sizes.lines, orders_rows=sizes.orders)

    # set-up: persist the star fact and build the manifest fact store,
    # SETUP_REPS times from scratch; the queries use the last build
    root = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        star.clear_fact_cache()
        with ctx.span("star.sales_fact_materialize"):
            star.sales_fact(spark, sf_dir).count()
        root = os.path.join(ctx.run_dir, f"fact_store_{rep}")
        with ctx.span("fact_store.build"):
            fact_store.build_fact_store(spark, sf_dir, root)
        out.setup_reps.append(time.perf_counter() - t0)
    fact_store.default_root = lambda _sf_dir, _root=root: _root

    names = olap_query_names()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    samples: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}
    results = []
    t_start = time.perf_counter()
    rounds = 0
    while True:
        for name in names:
            group = f"olap-r{rounds}-{name}"
            if ctx.tracer is not None:
                sc.setJobGroup(group, group)
                ctx.tracer.set_request(f"round{rounds}/{name}")
            t0 = time.perf_counter()
            try:
                with ctx.span(f"queries.{name}"):
                    df = queries.OLAP_QUERIES[name](spark, sf_dir)
                    rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # a failed query counts, the run goes on
                out.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                rows = None
            dt = time.perf_counter() - t0
            out.attempted += 1
            if rows is not None:
                out.latencies.append(dt)
                samples[name].append(dt)
                results.append((name, list(df.columns), rows))
            if ctx.tracer is not None:
                jobs[name].append(len(tracker.getJobIdsForGroup(group)))
        rounds += 1
        elapsed = time.perf_counter() - t_start
        if elapsed >= ctx.seconds and rounds >= OLAP_MIN_ROUNDS:
            break
    if ctx.tracer is not None:
        sc.setJobGroup("bench", "bench")
        ctx.tracer.set_request(None)
    out.throughput = len(out.latencies) / elapsed
    out.memory_mb = ctx.memory_mb()
    out.info.update(rounds=rounds, queries_per_round=len(names), measured_s=elapsed)
    out.aliases.update(
        olap_query_p50_s=median(out.latencies),
        olap_query_tail_s=tail(out.latencies)[0],
        olap_queries_per_s=out.throughput,
    )

    # correctness, outside the timed region
    con = checks.duckdb_connection(sf_dir)
    expected = {n: checks.oracle_answer(con, oracles.OLAP_ORACLES[n]) for n in names}
    con.close()
    for name, cols, rows in results:
        bad = checks.mismatch(expected[name], cols, rows)
        if bad:
            out.fail(f"{name}: {bad}")

    if ctx.tracer is not None:
        tr = ctx.tracer
        out.layer["star.sales_fact_materialize_s"] = median(
            s.dur for s in tr.named("star.sales_fact_materialize"))
        out.layer["fact_store.build_s"] = median(
            s.dur for s in tr.named("fact_store.build"))
        for n in names:
            out.layer[f"queries.{n}_s"] = median(samples[n])
            out.layer[f"queries.{n}_spark_jobs"] = median(jobs[n])
    return out


# ---------------------------------------------------------------- ETL


def _masters(spark, sf_dir: str):
    """The reference's two master relations, derived from the generated
    part and customer tables and pinned (the stream's static side)."""
    from pyspark.sql import functions as F

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    store = F.col("p_partkey") % STORE_MOD
    products = part.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("product_id"),
        F.col("p_name").alias("product_name"),
        F.col("p_retailprice").alias("price"),
        F.concat(F.lit("S"), store).alias("supplier_id"),
        F.lit("sup").alias("supplier_name"),
        F.concat(F.lit("ST"), store).alias("store_id"),
        F.concat(F.lit("Store "), store).alias("store_name"),
    )
    customers = cust.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.lit("U").alias("gender"),
    )
    return products.localCheckpoint(eager=True), customers.localCheckpoint(eager=True)


def _etl_setup(ctx: Ctx, out: Outcome):
    sf_dir = os.path.join(ctx.run_dir, "star")
    star = datagen.write_star(sf_dir, ETL_SF, ctx.seed)
    masters = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with ctx.span("etl.masters_materialize"):
            masters = _masters(ctx.spark, sf_dir)
        out.setup_reps.append(time.perf_counter() - t0)
    return star, masters


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log.
    Every log file holds JSON lines carrying their own ``batchId``; a
    ``.compact`` file re-lists all earlier batches, so the id is taken
    from the line, never from the log file's name."""
    out: dict[str, int] = {}
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as fh:
                lines = fh.read().splitlines()
        except OSError:
            continue  # being written; the next poll sees it
        for line in lines[1:]:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def batch_table(query) -> dict[int, dict]:
    """batch id -> {start, end, rows, durations (s)} from the query's
    StreamingQueryProgress reports."""
    out = {}
    for p in query.recentProgress:
        d = p.durationMs
        start = _epoch(p.timestamp)
        out[p.batchId] = {
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "rows": p.numInputRows,
            **{k: v / 1000.0 for k, v in d.items()},
        }
    return out


class EtlProbe:
    """Per-layer counters for the traced ETL runs: Spark jobs of the
    stream's batches (one job group set where each batch's load
    starts), live sales_fact segments, and bytes the sinks wrote."""

    def __init__(self, ctx: Ctx, sinks, etl) -> None:
        self.tracker = ctx.spark.sparkContext.statusTracker()
        self.sc = ctx.spark.sparkContext
        self.max_segments = 0
        self.seen_files: dict[str, int] = {}
        self.baseline: set[str] = set()
        self.wh_root: str | None = None
        self.loads = 0
        tr = ctx.tracer
        probe = self

        def on_insert(sp, _res, args):
            sink, name = args[0], args[1]
            if name == "sales_fact":
                probe.max_segments = max(probe.max_segments, _live_segments(sink, name))
            probe.walk()

        tr.wrap(sinks.ManifestParquetSink, "insert_if_absent", "sinks.insert",
                attrs_fn=lambda self, name, batch: {"table": name},
                on_result=on_insert)
        tr.wrap(sinks.ManifestParquetSink, "compact", "sinks.compact",
                attrs_fn=lambda self, name, *a, **k: {"table": name},
                on_result=lambda sp, r, a: probe.walk())
        tr.wrap(sinks.ManifestParquetSink, "read", "sinks.read",
                attrs_fn=lambda self, name: {"table": name})

        def load_attrs(*_a, **_k):
            # every later job of this (callback) thread lands in the group;
            # the micro-batch's spans share its request id
            probe.sc.setJobGroup("pipeline", "pipeline")
            probe.loads += 1
            tr.set_request(f"microbatch{probe.loads}")
            return {}

        tr.wrap(etl.WarehouseOps, "load_batch", "etl.load_batch", attrs_fn=load_attrs)
        tr.wrap(etl, "refresh_quarterly_agg", "etl.refresh",
                on_result=lambda sp, r, a: sp.attrs.update(noop=r is None))

    def pipeline_jobs(self) -> int:
        return len(self.tracker.getJobIdsForGroup("pipeline"))

    def start_window(self, wh_root: str) -> None:
        self.wh_root = wh_root
        self.max_segments = 0
        self.seen_files = {}
        self.baseline = set(self._files())

    def _files(self) -> dict[str, int]:
        out = {}
        if self.wh_root is None:
            return out
        for d, _, fs in os.walk(self.wh_root):
            for f in fs:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
        return out

    def walk(self) -> None:
        for p, n in self._files().items():
            if p not in self.baseline:
                self.seen_files[p] = n

    def bytes_written(self) -> int:
        return sum(self.seen_files.values())


def _live_segments(sink, name: str) -> int:
    """Live (unsuperseded) data segments of a manifest table."""
    segments = getattr(sink, "_segments", None)
    if segments is not None:
        return len(segments(name)[0])
    tdir = sink.path(name)
    return sum(1 for d in os.listdir(tdir) if d.startswith("seg_"))


def _etl_layers(ctx: Ctx, out: Outcome, probe: EtlProbe, since: float,
                until: float, batches: dict, input_rows: int, input_bytes: int,
                jobs: int, fresh: list[tuple[float, float]], fact_rows: int,
                offered_rows: int) -> None:
    tr = ctx.tracer
    win = [b for b in batches.values() if since <= b["end"] and b["start"] <= until]
    out.layer.update({
        "pipeline.batch_s": median(b["triggerExecution"] for b in win),
        "pipeline.query_planning_s": median(b.get("queryPlanning", 0) for b in win),
        "pipeline.add_batch_s": median(b.get("addBatch", 0) for b in win),
        "pipeline.wal_commit_s": median(b.get("walCommit", 0) for b in win),
        "pipeline.batches": len(win),
        "pipeline.spark_jobs_per_batch": jobs / max(len(win), 1),
        "pipeline.trigger_wait_s": median(f - b for f, b in fresh),
        "pipeline.source_rows_read_per_input_row":
            sum(b["rows"] for b in win) / max(input_rows, 1),
    })
    loads = tr.named("etl.load_batch", since, until)
    refreshes = tr.named("etl.refresh", since, until)
    compacts = tr.named("sinks.compact", since, until)
    out.layer.update({
        "etl.load_batch_s": median(s.dur for s in loads),
        "etl.refresh_s": median(s.dur for s in refreshes),
        "etl.refresh_noop_ratio":
            sum(1 for s in refreshes if s.attrs.get("noop")) / max(len(refreshes), 1),
        "sinks.compact_calls": len(compacts),
        "sinks.compact_s": sum(s.dur for s in compacts),
        "sinks.live_segments_max": probe.max_segments,
        "sinks.bytes_written_per_input_byte": probe.bytes_written() / max(input_bytes, 1),
        "sinks.rows_admitted_per_offered": fact_rows / max(offered_rows, 1),
    })
    inserts = tr.named("sinks.insert", since, until)
    everything = tr.named("sinks.insert")
    for table in INSERT_TABLES:
        # the dimension tables are loaded by the first batch only
        mine = [s for s in inserts if s.attrs.get("table") == table] or [
            s for s in everything if s.attrs.get("table") == table]
        out.layer[f"sinks.insert_s.{table}"] = median(tr.self_time(s) for s in mine)


INSERT_TABLES = [
    "sales_fact", "time_dimension", "store_quarterly_agg",
    "store_quarterly_agg__hwm", "products", "supplier", "store", "customers",
]


def _install_probe(ctx: Ctx):
    from importlib import import_module

    if ctx.tracer is None:
        return None
    return EtlProbe(ctx, import_module(f"{PKG}.operators.sinks"),
                    import_module(f"{PKG}.operators.etl"))


def _serve_rows(ctx: Ctx, etl, wh):
    with ctx.span("etl.serve"):
        return etl.quarterly_sales_serve(wh, wh.read("store")).collect()


def etl_live(ctx: Ctx) -> Outcome:
    from importlib import import_module

    etl = import_module(f"{PKG}.operators.etl")
    pipeline = import_module(f"{PKG}.streaming.pipeline")
    out = Outcome()
    probe = _install_probe(ctx)
    star, masters = _etl_setup(ctx, out)
    n_sched = int(ctx.seconds / LIVE_PERIOD_S)
    n_files = LIVE_WARMUP_FILES + n_sched
    log = datagen.make_tx_log(star, n_files, LIVE_ROWS_PER_FILE, ctx.seed)
    base = os.path.join(ctx.run_dir, "live")
    tx_dir, stage = os.path.join(base, "tx"), os.path.join(base, "stage")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(tx_dir)
    os.makedirs(stage)

    def release(i: int) -> float:
        name = f"tx_{i:05d}.csv"
        with open(os.path.join(stage, name), "w") as fh:
            fh.write(log.files[i])
        os.rename(os.path.join(stage, name), os.path.join(tx_dir, name))
        return time.time()

    q = pipeline.stream_etl(
        ctx.spark, tx_dir, os.path.join(base, "wh"), ckpt, masters[0],
        masters[1], available_now=False, maintain_quarterly_agg=True,
    )

    def committed_by(names: list[str], deadline: float) -> bool:
        while time.time() < deadline:
            mapping = file_batches(ckpt)
            done = {b for b in batch_table(q)}
            if all(mapping.get(n, -1) in done for n in names):
                return True
            if q.exception() is not None:
                return False
            time.sleep(0.1)
        return False

    # warm-up: the first batches (cold JIT, dimension upserts) are not measured
    for i in range(LIVE_WARMUP_FILES):
        release(i)
        if not committed_by([f"tx_{i:05d}.csv"], time.time() + COMMIT_TIMEOUT_S):
            raise RuntimeError(f"warm-up file {i} not committed: {q.exception()}")

    wh = etl.warehouse_for(ctx.spark, os.path.join(base, "wh"), "manifest")
    serves: list[tuple[float, float]] = []
    serve_errors: list[str] = []
    stop = threading.Event()

    def reader() -> None:
        if ctx.tracer is not None:
            ctx.spark.sparkContext.setJobGroup("serve", "serve")
        while not stop.is_set():
            t0 = time.time()
            if ctx.tracer is not None:
                ctx.tracer.set_request(f"serve{len(serves)}")
            try:
                _serve_rows(ctx, etl, wh)
                serves.append((t0, time.time()))
            except Exception as exc:  # counted; the reader keeps serving
                serve_errors.append(f"serve: {type(exc).__name__}: {str(exc)[:200]}")

    if probe is not None:
        probe.start_window(os.path.join(base, "wh"))
        jobs0 = probe.pipeline_jobs()
    th = threading.Thread(target=reader, name="bench-serve-reader")
    th.start()
    t_start = time.time() + LIVE_PERIOD_S
    due = {}
    late = []
    try:
        for k in range(n_sched):
            i = LIVE_WARMUP_FILES + k
            due[i] = t_start + k * LIVE_PERIOD_S
            pause = due[i] - time.time()
            if pause > 0:
                time.sleep(pause)
            late.append(release(i) - due[i])
        t_end = due[n_files - 1]
        names = [f"tx_{i:05d}.csv" for i in range(n_files)]
        all_done = committed_by(names, time.time() + COMMIT_TIMEOUT_S)
        t_stop = time.time()
    finally:
        stop.set()
        th.join()
    jobs = probe.pipeline_jobs() - jobs0 if probe is not None else 0
    out.memory_mb = ctx.memory_mb()
    q.stop()
    batches = batch_table(q)
    mapping = file_batches(ckpt)

    fresh, commit_at = [], []
    for i in range(LIVE_WARMUP_FILES, n_files):
        out.attempted += 1
        b = batches.get(mapping.get(f"tx_{i:05d}.csv", -1))
        if b is None:
            out.fail(f"file {i} never committed")
            continue
        out.latencies.append(b["end"] - due[i])
        fresh.append((b["end"] - due[i], b["triggerExecution"]))
        commit_at.append(b["end"])
    # serves beside writes: from the first scheduled release until every
    # file is committed (batches run back to back all that time)
    in_window = [s for s in serves if t_start <= s[0] and s[1] <= t_stop]
    out.attempted += len(in_window) + len(serve_errors)
    for err in serve_errors:
        out.fail(err)
    if len(in_window) >= 2:
        out.throughput = len(in_window) / (in_window[-1][1] - in_window[0][0])
    backlog = max(
        (k + 1) - sum(1 for c in commit_at if c <= due[LIVE_WARMUP_FILES + k])
        for k in range(n_sched)
    )
    serve_s = [e - s for s, e in in_window]
    out.aliases.update(
        freshness_p50_s=median(out.latencies),
        freshness_tail_s=tail(out.latencies)[0],
        serve_p50_s=median(serve_s),
        serve_tail_s=tail(serve_s)[0],
        serves_per_s=out.throughput,
    )
    out.info.update(
        sf=ETL_SF, input_rows=log.input_rows, input_files=n_files,
        warmup_files=LIVE_WARMUP_FILES, redelivered_files=log.redelivered_files,
        invalid_rows=log.invalid_rows,
        schedule=f"1 file of {LIVE_ROWS_PER_FILE} rows every {LIVE_PERIOD_S}s",
        serves=len(in_window),
        backlog_max_files=backlog, generator_late_max_s=max(late),
        all_committed=all_done, measured_s=t_end - t_start,
        batches=[(round(b["start"] - t_start, 2), round(b["triggerExecution"], 2),
                  b["rows"]) for _, b in sorted(batches.items())],
    )

    served = _serve_rows(ctx, etl, wh)
    out.attempted += 1
    for err in checks.warehouse_errors(wh, served, log.expected_rows(), log.expected_agg()):
        out.fail(err)
    if probe is not None:
        measured = [r for f in log.rows[LIVE_WARMUP_FILES:] for r in f]
        measured_bytes = sum(len(f) for f in log.files[LIVE_WARMUP_FILES:])
        measured_rows = sum(f.count("\n") - 1 for f in log.files[LIVE_WARMUP_FILES:])
        fact_rows = log.expected_rows() - log.expected_rows(LIVE_WARMUP_FILES)
        last_commit = max(commit_at) if commit_at else t_end
        _etl_layers(ctx, out, probe, t_start, last_commit, batches, measured_rows,
                    measured_bytes, jobs, fresh, fact_rows, len(measured))
        tr = ctx.tracer
        out.layer["pipeline.backlog_max_files"] = backlog
        out.layer["pipeline.generator_late_s"] = max(late)
        out.layer["etl.serve_s"] = median(
            s.dur for s in tr.named("etl.serve", t_start, t_stop))
        out.layer["sinks.read_s"] = median(
            s.dur for s in tr.named("sinks.read", t_start, t_stop)
            if s.attrs.get("table") in ("store", "store_quarterly_agg"))
    return out


WORKLOADS = {"olap_star": olap_star, "etl_live": etl_live}
