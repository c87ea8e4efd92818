"""The two workloads. Each times calls into the package's public functions.

``analytics_mix`` is the lake: every pass ingests one increment of each
reference source (``ingestion``, ``sources`` writers), polls each source
twice more with nothing new, and runs a fixed list of registry jobs from parquet
input to collected result (``queries``, ``operators``, ``sources``
readers). ``stream_admission`` drives the hotlog dedup admission sink
through a real ``readStream`` file source fed by an open-loop generator,
at a rate below and a rate above what the sink keeps up with.

In the traced pass, spans wrap the same calls from out here, the public
functions of the lower layers are wrapped where the layer above looks
them up, and the status store is harvested after every call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import fixtures
from perfbench.stats import digest

#: registry jobs of one analytics pass, in order
ANALYTICS_JOBS = ("q3_shipping_priority", "multimodal_video_frame_stats")

#: how many times set-up runs in one benchmark run; set-up time is their median
SETUP_REPS = 3

#: no-new-rows polls of every source per pass: each is one small job, so
#: their median needs more samples than the pass time does
IDLE_POLL_ROUNDS = 2

#: timed passes of one run, at least: each call's median then sets aside
#: one slow call
MIN_PASSES = 3

#: hotlog admission parameters: df cap and auto-compaction interval (a run
#: makes fewer batches than the interval, so no batch also pays a compaction)
DF_CAP = 25
COMPACT_EVERY = 8

#: open-loop schedule: seconds between files below capacity, above capacity.
#: A low-rate file's increment takes about 6.8 s on 4 cores (a 5.9 s batch
#: plus query start and stop) and up to 1.4 times that when the host is
#: busy; closer to capacity, a busy spell queues the low-rate files and
#: their latency doubles
LOW_PERIOD_S = 9.5
HIGH_PERIOD_S = 0.5
#: files written at each rate, at least: enough for the backlog to grow in
#: the burst and to show staying flat below capacity
PHASE_FILES_MIN = 3
#: a phase whose files are not all committed by then fails the run instead
#: of waiting forever on a sink that stopped committing
DRAIN_LIMIT_S = 90.0


def _ingest_settings():
    from pyspark_ingestion_spark.ingestion import TableSettings

    return {
        "sap": ("sap_docs", TableSettings(
            ref_column="TS_REF", date_column="ERDAT", time_column="ERZET")),
        "lims": ("lims_samples", TableSettings(ref_column="MODIFIED_ON")),
        "c1": ("c1_contacts", TableSettings(
            ref_column="LASTMODIFIEDDATE",
            columns_to_import=["contact_id", "EMAIL__C", "IS_PRO__C", "LASTMODIFIEDDATE"],
            pii_sha256_columns=["EMAIL__C"],
            stringify_columns=["IS_PRO__C"],
        )),
    }


@dataclass
class Context:
    """What one benchmark run shares between set-up, measurement and checks."""

    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    tracer: object = None

    def call(self, fn, *args, **kwargs):
        """Run one public call, counting it as attempted and, if it raises, failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # a failed call is a result to report, not a crash
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {e}")
            raise

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(f"check failed: {what}")


def _span(ctx: Context, name: str, traced: bool, **kw):
    if traced and ctx.tracer is not None:
        return ctx.tracer.span(name, **kw)
    return contextlib.nullcontext()


def _harvest(ctx: Context, traced: bool) -> None:
    if traced and ctx.tracer is not None:
        ctx.tracer.harvest()


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------


class Lake:
    """One fixture set: registry tables, growing ingestion sources and their
    lake, bootstrapped by the program's first load of each source."""

    def __init__(self, ctx: Context, root: str):
        from pyspark_ingestion_spark.ingestion import ingest_table
        from pyspark_ingestion_spark.sources.readers import read_file

        self.ctx = ctx
        self.root = root
        self.sf_dir = f"{root}/sf"
        self.settings = _ingest_settings()
        self.sources = fixtures.IngestSources(ctx.seed, f"{root}/src")
        self._ingest_table = ingest_table
        self._read_file = read_file
        fixtures.write_tables(ctx.seed, self.sf_dir)
        for system in self.settings:
            self.sources.append(system)
            res = self.ingest(system)
            ctx.check(res.moved_something, f"{system} bootstrap load moved rows")

    def lake_path(self, system: str) -> str:
        return f"{self.root}/lake/{system}"

    def ingest(self, system: str):
        table, settings = self.settings[system]
        spark = self.ctx.spark
        return self.ctx.call(
            lambda: self._ingest_table(
                self._read_file(spark, self.sources.path(system)),
                system, table, self.lake_path(system), settings,
            )
        )


def _run_pass(ctx: Context, lake: Lake, registry, traced: bool, results: dict) -> dict:
    """One analytics pass; returns per-call wall seconds keyed by call name."""
    times: dict[str, float] = {}
    with _span(ctx, "pass", traced, op_id=f"pass-{time.time_ns()}"):
        for system in lake.settings:
            lake.sources.append(system)
            t = time.perf_counter()
            with _span(ctx, f"ingest.{system}", traced):
                res = lake.ingest(system)
            times[f"ingest.{system}"] = time.perf_counter() - t
            _harvest(ctx, traced)
            ctx.check(res.moved_something, f"{system} increment moved rows")
        for k in range(IDLE_POLL_ROUNDS):
            for system in lake.settings:
                t = time.perf_counter()
                with _span(ctx, "ingest.idle_poll", traced):
                    res = lake.ingest(system)
                times[f"idle_poll.{system}.{k}"] = time.perf_counter() - t
                _harvest(ctx, traced)
                ctx.check(not res.moved_something, f"{system} idle poll found no new rows")
        for name in ANALYTICS_JOBS:
            fn = registry[name].fn
            t = time.perf_counter()
            with _span(ctx, f"query.{name}", traced):
                with _span(ctx, "queries.build", traced, job_group=False):
                    df = ctx.call(fn, ctx.spark, lake.sf_dir)
                rows = ctx.call(df.collect)
            times[f"query.{name}"] = time.perf_counter() - t
            _harvest(ctx, traced)
            results.setdefault(name, set()).add(digest(df.columns, rows))
    return times


def _oracle_digests(sf_dir: str, registry) -> dict:
    """Row count and digest of each job's DuckDB oracle over the same inputs."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("customer", "orders", "lineitem", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in ANALYTICS_JOBS:
            sql = registry[name].oracle
            if sql is None:
                continue
            r = con.execute(sql)
            out[name] = digest([d[0] for d in r.description], r.fetchall())
        return out
    finally:
        con.close()


def _check_lake(ctx: Context, lake: Lake) -> None:
    """The lake holds exactly the source rows with a ref, and the watermark is max(ref)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from pyspark_ingestion_spark.ingestion import read_watermark
    from pyspark_ingestion_spark.ingestion.watermark import SYNC_DATETIME_FORMAT

    keys = {"sap": "doc_id", "lims": "sample_id", "c1": "contact_id"}
    for system, (table, settings) in lake.settings.items():
        src = ds.dataset(lake.sources.path(system), format="parquet").to_table()
        if system == "sap":
            refs = [d + t for d, t in zip(src["ERDAT"].to_pylist(), src["ERZET"].to_pylist())]
            want_ids = sorted(src[keys[system]].to_pylist())
            top = max(refs)
            want_wm = f"{top[0:4]}-{top[4:6]}-{top[6:8]}T{top[8:10]}:{top[10:12]}:{top[12:14]}.000000Z"
        else:
            ref = src[settings.ref_column]
            mask = pc.is_valid(ref)
            want_ids = sorted(pc.filter(src[keys[system]], mask).to_pylist())
            want_wm = pc.max(ref).as_py().strftime(SYNC_DATETIME_FORMAT)
        got = ctx.spark.read.parquet(lake.lake_path(system)).select(keys[system]).collect()
        got_ids = sorted(r[0] for r in got)
        ctx.check(got_ids == want_ids, f"{system} lake rows equal the source rows with a ref "
                                       f"({len(got_ids)} vs {len(want_ids)})")
        wm = read_watermark(lake.lake_path(system), system, table, settings.ref_column,
                            settings.ref_first_value, spark=ctx.spark)
        ctx.check(wm.ref_last_value == want_wm,
                  f"{system} watermark {wm.ref_last_value} equals max(ref) {want_wm}")


def _install_layer_wraps(ctx: Context, query_modules=()) -> None:
    """Wrap lower-layer public functions where the layer above looks them up."""
    import sys

    from pyspark_ingestion_spark.ingestion import pipeline as ingest_pipeline
    from pyspark_ingestion_spark.sources import writers

    tr = ctx.tracer
    tr.wrap(ingest_pipeline, "prepare", "ingestion.prepare")
    tr.wrap(ingest_pipeline, "read_watermark", "ingestion.read_watermark")
    tr.wrap(ingest_pipeline, "write_watermark", "ingestion.write_watermark")
    tr.wrap(ingest_pipeline, "write_partitioned", "sources.write_partitioned")
    # the streaming sinks import this one at call time, from its own module
    tr.wrap(writers, "overwrite_partitions", "sources.overwrite_partitions")
    for name in query_modules:
        if hasattr(sys.modules[name], "load_table"):
            tr.wrap(sys.modules[name], "load_table", "sources.load_table")


def analytics_mix(ctx: Context) -> tuple[dict, dict, dict]:
    from pyspark_ingestion_spark.queries import all_queries

    registry = all_queries()
    setup_times = []
    lake = None
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        lake = Lake(ctx, f"{ctx.work}/lake{k}")
        setup_times.append(time.perf_counter() - t)
    results: dict[str, set] = {}
    # warm-up: the set-ups already ran the ingest path; run each job once so
    # class loading and code generation stay out of the timed passes
    t = time.perf_counter()
    for name in ANALYTICS_JOBS:
        ctx.call(ctx.call(registry[name].fn, ctx.spark, lake.sf_dir).collect)
    warmup_s = time.perf_counter() - t

    passes: list[dict] = []
    traced_passes: list[tuple[dict, set[int]]] = []  # (call times, span ids)
    walls: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    # at least MIN_PASSES timed passes, then another only while one fits
    # before the deadline, so a run makes the same number of passes from
    # seed to seed
    while len(passes) < MIN_PASSES or time.perf_counter() + statistics.median(walls) <= deadline:
        t = time.perf_counter()
        traced = ctx.trace and i % 2 == 1
        if traced:
            ctx.tracer.start()
            _install_layer_wraps(ctx, {registry[n].fn.__module__ for n in ANALYTICS_JOBS})
            before = {s.span_id for s in ctx.tracer.spans}
        times = _run_pass(ctx, lake, registry, traced, results)
        if traced:
            ctx.tracer.stop()
            ctx.tracer.unwrap_functions()
            new = {s.span_id for s in ctx.tracer.spans} - before
            traced_passes.append((times, new))
        else:
            passes.append(times)
        walls.append(time.perf_counter() - t)
        i += 1

    oracle = _oracle_digests(lake.sf_dir, registry)
    for name in ANALYTICS_JOBS:
        got = results.get(name, set())
        ctx.check(len(got) == 1, f"{name} gave one result on every pass ({len(got)} distinct)")
        if name in oracle:
            ctx.check(got == {oracle[name]},
                      f"{name} matches its DuckDB oracle (rows {sorted(g[0] for g in got)} vs "
                      f"{oracle[name][0]})")
    _check_lake(ctx, lake)

    def kind(call: str) -> str:
        """The call without its idle-round number: both rounds of a poll pool."""
        return call.rsplit(".", 1)[0] if call.startswith("idle_poll.") else call

    # the calls of a pass differ in cost, so each kind of call gets its own
    # median over the passes: a slow call is set aside without a cheaper
    # kind of call standing in for it
    by_kind: dict[str, list[float]] = {}
    for p in passes:
        for call, seconds in p.items():
            by_kind.setdefault(kind(call), []).append(seconds)
    typical = {k: statistics.median(v) for k, v in by_kind.items()}
    e2e = {
        "setup_s": statistics.median(setup_times),
        # a typical pass: each of its calls at the median of its kind
        "op_s": sum(typical[kind(call)] for call in passes[0]),
        # a typical idle cycle: every source polled once with nothing new
        "latency_s": sum(typical[f"idle_poll.{system}"] for system in lake.settings),
    }
    pass_s = [sum(p.values()) for p in passes]
    idle = [
        sum(p[f"idle_poll.{system}.{k}"] for system in lake.settings)
        for p in passes for k in range(IDLE_POLL_ROUNDS)
    ]
    samples = {"setup_s": setup_times, "op_s": pass_s, "latency_s": idle}
    layers = {"setup.warmup_s": warmup_s}
    if ctx.trace:
        layers.update(_analytics_layers(ctx, passes, traced_passes))
    return e2e, samples, layers


def _analytics_layers(ctx: Context, passes, traced_passes) -> dict:
    tr = ctx.tracer
    tr.finish()
    n = len(traced_passes)
    traced_ids = set().union(*(ids for _, ids in traced_passes))
    spans = [s for s in tr.spans if s.span_id in traced_ids]
    out: dict[str, float] = {}

    def per_pass(span_name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == span_name) / n

    out["queries.build_s"] = per_pass("queries.build")
    out["queries.py4j_calls"] = sum(s.py4j for s in spans if s.name == "queries.build") / n
    for name in ANALYTICS_JOBS:
        out[f"query.{name}.s"] = statistics.median(p[0][f"query.{name}"] for p in traced_passes)
    spark = tr.spark_totals(traced_ids)
    for k, v in spark.items():
        out[f"spark.{k}"] = v / n if k != "cpu_ratio" else v
    out["ingestion.ingest_table_s"] = sum(
        statistics.median(p[0][k] for p in traced_passes)
        for k in traced_passes[0][0] if k.startswith(("ingest.", "idle_poll."))
    )
    out["ingestion.prepare_s"] = per_pass("ingestion.prepare")
    out["ingestion.read_watermark_s"] = per_pass("ingestion.read_watermark")
    out["ingestion.write_watermark_s"] = per_pass("ingestion.write_watermark")
    out["sources.write_partitioned_s"] = per_pass("sources.write_partitioned")
    out["sources.load_table_s"] = per_pass("sources.load_table")
    idle_ids = tr.descendants({s.span_id for s in tr.spans if s.name == "ingest.idle_poll"})
    out["ingestion.idle_input_mb"] = tr.spark_totals(idle_ids)["input_mb"] / n
    traced_med = statistics.median(sum(p[0].values()) for p in traced_passes)
    timed_med = statistics.median(sum(p.values()) for p in passes)
    out["trace.timed_s"] = timed_med
    out["trace.traced_s"] = traced_med
    out["trace.overhead_ratio"] = traced_med / timed_med
    out["trace.harvest_s"] = tr.harvest_s / n
    return out


# ---------------------------------------------------------------------------
# stream_admission
# ---------------------------------------------------------------------------


class Generator:
    """Open-loop writer of stream files: each file is written when it is due,
    however far behind the sink is, and its docs are stamped with that time."""

    def __init__(self, docs: fixtures.StreamDocs, src_dir: str):
        self.docs = docs
        self.src_dir = src_dir
        self.written: dict[int, float] = {}  # file index -> due time
        self.late_s_max = 0.0
        self.next_file = 0
        self._thread = None
        self.error: BaseException | None = None

    def _write(self, k: int, due: float) -> None:
        table = self.docs.batch(k, np.full(fixtures.STREAM_FILE_DOCS, due))
        fixtures.write_atomic(table, f"{self.src_dir}/part-{k:05d}.parquet")
        self.written[k] = due
        self.late_s_max = max(self.late_s_max, time.time() - due)

    def run_schedule(self, n_files: int, period: float) -> None:
        """Start writing ``n_files`` files, one every ``period`` seconds, from now."""
        first = self.next_file
        self.next_file += n_files
        t0 = time.time()

        def loop():
            try:
                for i in range(n_files):
                    due = t0 + i * period
                    pause = due - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    self._write(first + i, due)
            except BaseException as e:  # surfaced by join(); the run then fails its check
                self.error = e

        self._thread = threading.Thread(target=loop, name="stream-generator", daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join(timeout=120)
            if self._thread.is_alive():
                raise RuntimeError("stream generator did not finish")
        if self.error is not None:
            raise self.error


class Checkpoint:
    """Reads batch boundaries from a streaming checkpoint the sink wrote.

    ``offsets/<id>`` is written when batch ``id`` starts, ``commits/<id>``
    when it has committed, and ``sources/0/`` lists the files of each batch.
    """

    def __init__(self, path: str):
        self.path = path

    def committed(self) -> dict[int, float]:
        out = {}
        for p in glob.glob(f"{self.path}/commits/[0-9]*"):
            name = os.path.basename(p)
            if name.isdigit():
                out[int(name)] = os.stat(p).st_mtime
        return out

    def started(self, batch: int) -> float:
        return os.stat(f"{self.path}/offsets/{batch}").st_mtime

    def files(self) -> dict[int, int]:
        """Stream file index -> batch id that read it."""
        out = {}
        for p in glob.glob(f"{self.path}/sources/0/*"):
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    name = os.path.basename(entry["path"])
                    out[int(name[len("part-"):].split(".")[0])] = int(entry["batchId"])
        return out


def stream_admission(ctx: Context) -> tuple[dict, dict, dict]:
    from pyspark_ingestion_spark.sources.readers import read_file
    from pyspark_ingestion_spark.streaming import pipeline as sp

    spark = ctx.spark
    docs = fixtures.StreamDocs(ctx.seed)
    base_path = f"{ctx.work}/base.parquet"
    docs.write_base(base_path)
    base = read_file(spark, base_path)
    setup_times = []
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        ctx.call(sp.init_dedup_admission_index, base, f"{ctx.work}/idx{k}",
                 max_doc_freq=DF_CAP, index_mode="hotlog")
        setup_times.append(time.perf_counter() - t)
    index = f"{ctx.work}/idx{SETUP_REPS - 1}"
    src, out, ck = f"{ctx.work}/in", f"{ctx.work}/out", f"{ctx.work}/ck"
    os.makedirs(src)
    stream_df = (
        spark.readStream.schema("doc_id long, text string, created_at double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cp = Checkpoint(ck)
    gen = Generator(docs, src)
    calls: list[tuple[float, bool, set[int]]] = []  # (wall seconds, traced, batches)
    phases = None

    def increment() -> None:
        # a traced run alternates untraced and traced increments, so the
        # tracing cost is the gap between their batches
        traced = ctx.trace and len(calls) % 2 == 1
        if traced:
            ctx.tracer.start()
            _install_layer_wraps(ctx)
        before = set(cp.committed())
        t = time.perf_counter()
        with _span(ctx, "streaming.increment", traced):
            ctx.call(sp.stream_dedup_admission, stream_df, base, out, ck,
                     max_doc_freq=DF_CAP, index_path=index, index_mode="hotlog",
                     compact_every=COMPACT_EVERY)
        wall = time.perf_counter() - t
        if traced:
            ctx.tracer.stop()
            ctx.tracer.unwrap_functions()
        calls.append((wall, traced, set(cp.committed()) - before))

    def drain() -> None:
        """Run increments until every written file has committed."""
        deadline = time.monotonic() + DRAIN_LIMIT_S
        while True:
            if time.monotonic() > deadline:
                raise RuntimeError(f"stream files still uncommitted after {DRAIN_LIMIT_S} s")
            done = cp.files()
            committed = cp.committed()
            n_done = sum(1 for f, b in done.items() if b in committed)
            if n_done >= gen.next_file and len(gen.written) == gen.next_file:
                return
            if len(gen.written) > n_done:
                increment()
            else:
                time.sleep(0.02)

    if ctx.trace:
        from perfbench.tracing import StreamPhases

        # registered for the whole run: progress events arrive after the
        # call that made them returns
        phases = StreamPhases()
        listener = phases.listener()
        spark.streams.addListener(listener)
    # above capacity: a burst of files, one every HIGH_PERIOD_S, drained
    # batch by batch
    n_files = max(PHASE_FILES_MIN, int(ctx.seconds // 3))
    n_high = n_files
    gen.run_schedule(n_high, HIGH_PERIOD_S)
    drain()
    gen.join()
    high_files = range(0, n_high)
    # below capacity: files LOW_PERIOD_S apart, each finding the backlog empty
    n_low = n_files
    gen.run_schedule(n_low, LOW_PERIOD_S)
    drain()
    gen.join()
    low_files = range(n_high, n_high + n_low)
    if ctx.trace:
        spark.streams.removeListener(listener)

    file_batch = cp.files()
    committed = cp.committed()

    def batch_of(k: int) -> int:
        return file_batch[k]

    # every doc of a file has the file's created_at and commits with it, so
    # one sample per file
    latency = []
    wait_low = []
    for k in low_files:
        b = batch_of(k)
        latency.append(committed[b] - gen.written[k])
        wait_low.append(cp.started(b) - gen.written[k])
    # the burst's first batch also pays the stream's warm-up: leave it out.
    # Every batch reads one file, so a batch does the same work at either
    # rate: the seconds per batch are taken over both
    high_batches = sorted({batch_of(k) for k in high_files})
    warm = high_batches[1:]
    low_batches = sorted({batch_of(k) for k in low_files})
    batch_s = [committed[b] - cp.started(b) for b in warm + low_batches]
    wait_high = [cp.started(batch_of(k)) - gen.written[k] for k in high_files]

    def backlog(b: int) -> int:
        """Files due but not yet committed when batch ``b`` started, its own included."""
        t = cp.started(b)
        due = sum(1 for d in gen.written.values() if d <= t)
        return due - sum(1 for k in gen.written if committed[batch_of(k)] <= t)

    # every doc offered was decided; admitted docs are unique and never one
    # of the planted copies of a base-corpus doc. The other stream docs are
    # random draws from a 3000-word vocabulary whose only shared shingles
    # are the boilerplate's, which the base corpus already puts over the df
    # cap: each is unique, so exactly the unplanted docs are admitted
    admitted = [r[0] for r in spark.read.parquet(out).select("doc_id").collect()]
    offered = set(docs.offered)
    ctx.check(all(k in file_batch and file_batch[k] in committed for k in gen.written),
              "every stream file was read by a committed batch")
    ctx.check(len(admitted) == len(set(admitted)), "no admitted id appears twice")
    ctx.check(not (set(admitted) & docs.planted),
              f"every planted duplicate is rejected ({len(set(admitted) & docs.planted)} admitted)")
    want = offered - docs.planted
    ctx.check(set(admitted) == want,
              f"exactly the unplanted docs are admitted ({len(want - set(admitted))} missing, "
              f"{len(set(admitted) - want)} not offered or planted)")
    ctx.check(gen.late_s_max < 1.0, f"generator ran on time (late {gen.late_s_max:.3f} s)")

    e2e = {
        "setup_s": statistics.median(setup_times),
        "op_s": statistics.median(batch_s),
        "latency_s": statistics.median(latency),
    }
    samples = {"setup_s": setup_times, "op_s": batch_s, "latency_s": latency}
    layers = {
        "streaming.backlog_files_max.low": max(backlog(b) for b in low_batches),
        "streaming.backlog_files_max.high": max(backlog(b) for b in high_batches),
        "streaming.wait_s_p50.low": statistics.median(wait_low),
        "streaming.wait_s_p50.high": statistics.median(wait_high),
        "operators.reject_ratio": 1 - len(admitted) / len(offered),
        "gen.late_s_max": gen.late_s_max,
    }
    if ctx.trace:
        batch_s_of = {b: committed[b] - cp.started(b) for b in committed}
        layers.update(_stream_layers(ctx, phases, calls, batch_s_of, high_batches[0]))
    return e2e, samples, layers


def _stream_layers(ctx: Context, phases, calls, batch_s_of: dict, warm_up_batch: int) -> dict:
    tr = ctx.tracer
    tr.finish()
    out: dict[str, float] = {}
    spark = tr.spark_totals()  # traced sections hold only traced increments
    for k, v in spark.items():
        out[f"spark.{k}"] = v
    traced_batches = set().union(*(b for _, traced, b in calls if traced))
    progress = [p for p in phases.progress if p["rows"] > 0 and p["batch"] in traced_batches]
    nb = max(len(progress), 1)
    out["spark.jobs_per_batch"] = spark["jobs"] / nb
    out["spark.stages_per_batch"] = spark["stages"] / nb

    def med(key: str) -> float:
        vals = [p["ms"].get(key, 0) / 1000.0 for p in progress]
        return statistics.median(vals) if vals else 0.0

    out["streaming.call_s"] = statistics.median(c for c, traced, _ in calls if traced)
    out["streaming.trigger_s"] = med("triggerExecution")
    out["streaming.add_batch_s"] = med("addBatch")
    out["streaming.planning_s"] = med("queryPlanning")
    out["streaming.wal_commit_s"] = med("walCommit")
    ow = [s for s in tr.spans if s.name == "sources.overwrite_partitions"]
    out["sources.overwrite_partitions_s"] = sum(s.end - s.start for s in ow) / nb
    out["sources.overwrite_partitions_calls"] = len(ow) / nb

    def batch_med(traced: bool) -> float:
        return statistics.median(
            batch_s_of[b] for _, t, bs in calls if t == traced for b in bs if b != warm_up_batch
        )

    out["trace.traced_s"] = batch_med(True)
    out["trace.timed_s"] = batch_med(False)
    out["trace.overhead_ratio"] = out["trace.traced_s"] / out["trace.timed_s"]
    out["trace.harvest_s"] = tr.harvest_s / max(len(traced_batches), 1)
    return out


WORKLOADS = {"analytics_mix": analytics_mix, "stream_admission": stream_admission}
