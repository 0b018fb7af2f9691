"""Benchmark of the CDC video-analytics engine.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 5 --trace 0

Runs one seeded workload on ``local[<cores>]`` in one process, checks every
output outside the timed region and prints, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
workload runs once untraced and once traced and the metrics are the
per-layer ones (spans around calls into each layer, see ``tracing.py``), plus
the tracing overhead. Spans are written to ``.perfbench/traces/``.

Workloads (why each was chosen):

- ``cdc_ingest``: the paper's core path. Kafka-shaped envelopes go through
  ``decode_kafka_records`` and the merge-sink batch processor with the
  per-video view maintained in the same batch. An open-loop generator
  emits envelopes at a fixed 150/s for ``--seconds``, about half the drain
  rate the code this benchmark was written against reached (225-400/s in
  2000-envelope batches on 4 shared cores), so the queue stays stable on
  a slower or busier host; each micro-batch takes everything that became
  due while the previous one ran, like Structured Streaming's default
  trigger. A micro-batch costs some seconds whatever its size, so a run
  sees a few of them.
  A drain phase then releases a fixed backlog at once and consumes it in
  one batch. Sinks, views, structure/enrich and streaming do the work;
  the query catalog does none. The traced run then sends the dashboard
  read mix (one analyst client in a closed loop: 40% point lookups with
  Zipf-chosen keys, 30% top-k over the view, 20% device x quality rollup,
  10% change feed between the last two retained versions) to the
  warehouse the ingest left, so the read side of the same layout is
  measured per layer.
- ``curation_batch``: repeated passes over four LLM-data curation queries
  of the catalog on a generated corpus. Similarity, text, dedup and the
  argmin kernel do the work; sinks and views do none.

End-to-end metrics are defined for every workload on its own unit of
work (envelope; pass over the queries); README.md next to this file
lists them, the per-layer metrics and which layer should move which
end-to-end metric on which workload. Every run also prints one summary
line before the JSON with the figures under the workload's own names
(``ingest_freshness_p50_s``, ``ingest_drain_eps``, ``curation_pass_s``,
``failed_op_ratio``, ...) and their sample counts.
"""

from __future__ import annotations

import argparse
import bisect
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
import model  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("cdc_ingest", "curation_batch")
QUERIES = (
    "doc_dedup_clusters",
    "emb_semantic_dedup",
    "emb_ivf_topk",
    "doc_simhash_near_dup",
)
REQUEST_MIX = ("key",) * 4 + ("topk",) * 3 + ("rollup",) * 2 + ("changes",)
READ_SPANS = {
    "key": "sinks.read_warehouse_key",
    "topk": "views.read_view_topk",
    "rollup": "sinks.read_warehouse_rollup",
    "changes": "sinks.table_changes",
}
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass(frozen=True)
class Sizes:
    preload: int  # documents in each preloaded warehouse
    setups: int  # preloads (or corpus builds) per run; setup_s takes the median
    rate: float  # open-loop envelopes per second
    drain_backlog: int  # envelopes released at once in the drain phase
    drain_batch: int  # envelopes per drain batch (and of the warm-up batch)
    docs: int  # curation corpus documents
    embeddings: int  # curation corpus vectors
    warm_docs: int  # documents (and vectors) of the warm-up corpus; 0 = none


SIZES = {
    "full": Sizes(
        preload=5000, setups=2, rate=150.0,
        drain_backlog=2000, drain_batch=2000,
        docs=200, embeddings=200, warm_docs=40,
    ),
    "smoke": Sizes(
        preload=400, setups=2, rate=100.0,
        drain_backlog=300, drain_batch=150,
        docs=60, embeddings=60, warm_docs=0,
    ),
}

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    "throughput_per_s": "1/s",
}


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "structure.parse_s": "s",
    "structure.corrupt_rows": "count",
    "pipeline.transform_s": "s",
    "pipeline.rows_out_per_envelope": "ratio",
    "streaming.batch_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "gen.lateness_max_s": "s",
    "ingest.backlog_max": "count",
    "sinks.merge_s": "s",
    "sinks.merge_buckets_written": "count",
    "sinks.merge_bucket_touch_ratio": "ratio",
    "sinks.merge_bytes_written": "bytes",
    "sinks.merge_files_written": "count",
    "sinks.rows_rewritten_per_changed_row": "ratio",
    "sinks.bytes_per_live_row": "bytes",
    "views.refresh_s": "s",
    "views.dirty_groups": "count",
    "views.dirty_group_ratio": "ratio",
    "sinks.read_warehouse_key_ms": "ms",
    "views.read_view_topk_ms": "ms",
    "sinks.read_warehouse_rollup_ms": "ms",
    "sinks.table_changes_ms": "ms",
    "spark.jobs_per_read": "count",
    **{f"queries.{q}_{m}": u for q in QUERIES for m, u in (("s", "s"), ("jobs", "count"))},
    "mem.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "baseline.local1_drain_eps": "1/s",
}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean_or_zero(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


# ---------------------------------------------------------------------------
# processes and the Spark session
# ---------------------------------------------------------------------------


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class Session:
    """The engine's SparkSession plus the JVM process behind it, so the
    run can report the JVM's memory and stop every process it started."""

    def __init__(self, work: Path, cpus: int):
        from pyspark import SparkContext

        self.spark = self._start(work, cpus)
        self.proc = getattr(SparkContext._gateway, "proc", None)

    @staticmethod
    def _start(work: Path, cpus: int):
        from etl_pipeline_challenge_aladia_spark.session import get_spark

        local = work / "spark-local"
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        local.mkdir(parents=True, exist_ok=True)
        return get_spark(
            app_name="perfbench",
            cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(local),
                "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )

    def restart(self, work: Path, cpus: int) -> None:
        """A new SparkContext with another core count, in the same JVM."""
        self.spark.stop()
        self.spark = self._start(work, cpus)

    def peak_rss_mb(self) -> float:
        jvm = vm_hwm_mb(self.proc.pid) if self.proc is not None else 0.0
        return jvm + vm_hwm_mb("self")

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        from pyspark import SparkContext

        kids = descendants(self.proc.pid) if self.proc is not None else []
        try:
            self.spark.stop()
        finally:
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
            if self.proc is not None:
                self.proc.stdin.close()
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait(timeout=30)
            deadline = time.monotonic() + 20
            while kids and time.monotonic() < deadline:
                kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
                time.sleep(0.1)
            for k in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(k, signal.SIGKILL)


# ---------------------------------------------------------------------------
# shared run state
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args: argparse.Namespace, work: Path):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.sizes = SIZES[args.size]
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.session: Session | None = None
        self.tracer: Tracer | None = None
        #: spans are recorded only while this is set
        self.tracing = False
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        self.summary: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_parts: dict[str, float] = {}

    @property
    def spark(self):
        return self.session.spark

    def span(self, name: str, **attrs):
        if not self.tracing:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def fail(self, what: str, n: int = 1) -> None:
        if n:
            log(f"FAILED: {what} ({n})")
            self.failed += n

    def setup_s(self, repeat_times: list[float]) -> float:
        return (
            self.setup_parts["session.start_s"]
            + self.setup_parts["session.warm_s"]
            + statistics.median(repeat_times)
        )


# ---------------------------------------------------------------------------
# CDC: records, processor, checks
# ---------------------------------------------------------------------------


class Table:
    """One merge-sink warehouse with its view, quarantine and the model of
    everything delivered to it."""

    def __init__(self, run: Run, name: str):
        from etl_pipeline_challenge_aladia_spark.streaming import pipeline as sp

        base = run.work / name
        self.run = run
        self.wh = str(base / "warehouse")
        self.view = str(base / "view")
        self.quarantine = str(base / "quarantine")
        self.model = model.LwwModel()
        self.batches = 0
        self.offset = 0
        #: called after every delivered batch, outside its span
        self.on_commit = None
        self.process = sp.make_cdc_batch_processor(
            self.wh, self.quarantine, sink="merge", view_path=self.view
        )

    def deliver(self, msgs: list[gen.Message], stamps: list[float] | None = None) -> None:
        """One micro-batch through the program. Each record carries its
        scheduled creation time (epoch seconds; now when ``stamps`` is
        None) as its Kafka timestamp. A batch that raises counts its
        envelopes as failed operations."""
        import pandas as pd

        from etl_pipeline_challenge_aladia_spark.streaming import pipeline as sp

        run = self.run
        if stamps is None:
            stamps = [time.time()] * len(msgs)
        records = run.spark.createDataFrame(
            pd.DataFrame(
                {
                    "key": [m.key for m in msgs],
                    "value": [m.value for m in msgs],
                    "topic": "video_log",
                    "partition": 0,
                    "offset": range(self.offset, self.offset + len(msgs)),
                    "timestamp": pd.to_datetime([int(t * 1e6) for t in stamps], unit="us"),
                    "timestampType": 0,
                }
            ).astype({"partition": "int32", "timestampType": "int32"}),
            sp.KAFKA_RECORD_SCHEMA,
        )
        batch_id = self.batches
        self.batches += 1
        self.offset += len(msgs)
        try:
            with run.span("streaming.batch", envelopes=len(msgs)):
                self.process(sp.decode_kafka_records(records), batch_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            run.fail(f"batch {batch_id} raised", len(msgs))
        if self.on_commit is not None:
            self.on_commit()

    def check(self) -> None:
        """Untimed: warehouse == LWW model, view == full rebuild,
        quarantine == injected corrupt messages; mismatches are failures."""
        from etl_pipeline_challenge_aladia_spark import sinks, views

        spark = self.run.spark
        got = {
            (r[0], r[2], r[3]): tuple(r)
            for r in sinks.read_warehouse(spark, self.wh).select(*model.COLUMNS).collect()
        }
        bad_rows = model.count_row_mismatches(got, self.model.rows)
        stored = views.read_view(spark, self.view)
        rebuilt = views.video_stats(sinks.read_warehouse(spark, self.wh)).select(
            *stored.columns
        )
        stale = stored.exceptAll(rebuilt).collect()
        missing = rebuilt.exceptAll(stored).collect()
        for row in (stale + missing)[:6]:
            log(f"view row differs: {row}")
        bad_view = len({row["video_id"] for row in stale + missing})
        quarantined = (
            spark.read.json(self.quarantine).count()
            if os.path.exists(self.quarantine)
            else 0
        )
        bad_quarantine = abs(quarantined - self.model.corrupt)
        self.run.fail(f"{self.wh}: warehouse rows differing from the LWW model", bad_rows)
        self.run.fail(f"{self.view}: view groups differing from a full rebuild", bad_view)
        self.run.fail(f"{self.quarantine}: quarantine count off by", bad_quarantine)

    def manifest(self) -> dict:
        with open(os.path.join(self.wh, "_manifest.json")) as fh:
            return json.load(fh)

    def version_files(self, version: int | None = None) -> tuple[int, int, int, int]:
        """(bucket dirs, data files, bytes, rows) of one committed version's
        new bucket directories; ``None`` = every directory of the current
        snapshot."""
        import pyarrow.parquet as pq

        manifest = self.manifest()
        if version is None:
            dirs = list(manifest["buckets"].values())
        else:
            dirs = [d for d in manifest["buckets"].values() if d.endswith(f"_v{version:08d}")]
        files = nbytes = rows = 0
        for d in dirs:
            for f in os.listdir(os.path.join(self.wh, d)):
                if f.endswith(".parquet"):
                    p = os.path.join(self.wh, d, f)
                    files += 1
                    nbytes += os.path.getsize(p)
                    rows += pq.read_metadata(p).num_rows
        return len(dirs), files, nbytes, rows


def warm_up_cdc(run: Run, g: gen.CdcGenerator, tables: list[Table]) -> float:
    """One drain-sized incremental batch into each preloaded table the run
    goes on to use: it JITs the merge and incremental-refresh paths (the
    first preload JITs the bulk path), so the timed batches run warm.
    Returns the seconds of the first table's batch."""
    msgs = g.stream(run.sizes.drain_batch)
    times = []
    for t in tables:
        t0 = time.perf_counter()
        t.deliver(msgs)
        times.append(time.perf_counter() - t0)
        t.model.apply(msgs)
    return times[0]


def preload_tables(run: Run, g: gen.CdcGenerator, names: list[str]) -> tuple[list[Table], list[float]]:
    """The same preload delivered into each named table; returns the tables
    and the time each preload took (one batch + view build; the first one
    runs cold)."""
    msgs = g.preload(run.sizes.preload)
    tables, times = [], []
    for name in names:
        t = Table(run, name)
        t0 = time.perf_counter()
        t.deliver(msgs)
        times.append(time.perf_counter() - t0)
        t.model.apply(msgs)
        tables.append(t)
    return tables, times


class OpenLoop(threading.Thread):
    """Emits envelope i at ``t0 + i / rate`` whatever the program is doing;
    ``emitted`` is how many are out. Records how late it ran."""

    def __init__(self, n: int, rate: float, t0: float):
        super().__init__(daemon=True)
        self.n, self.rate, self.t0 = n, rate, t0
        self.emitted = 0
        self.lateness_max = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        i = 0
        while i < self.n:
            due = self.t0 + i / self.rate
            delay = due - time.perf_counter()
            if delay > 0 and self._halt.wait(delay):
                return
            now = time.perf_counter()
            while i < self.n and self.t0 + i / self.rate <= now:
                self.lateness_max = max(self.lateness_max, now - (self.t0 + i / self.rate))
                i += 1
            self.emitted = i

    def halt(self) -> None:
        self._halt.set()
        self.join(timeout=10)


@dataclass
class IngestResult:
    freshness_s: list[float]
    batches: list[tuple[int, int, float]]  # (lo, hi, seconds) into the open-loop list
    drain_eps: float
    backlog_max: int
    lateness_max_s: float


def ingest_phase(
    run: Run, table: Table, open_msgs: list[gen.Message], drain_msgs: list[gen.Message]
) -> IngestResult:
    """Open loop over ``open_msgs`` at ``rate``, then the drain phase."""
    rate = run.sizes.rate
    t0 = time.perf_counter() + 0.05
    wall0 = time.time() + 0.05
    loop = OpenLoop(len(open_msgs), rate, t0)
    loop.start()
    freshness: list[float] = []
    batches = []
    consumed = backlog_max = 0
    try:
        while consumed < len(open_msgs):
            avail = loop.emitted
            if avail == consumed:
                time.sleep(max(0.0, t0 + consumed / rate - time.perf_counter()) + 1e-4)
                continue
            backlog_max = max(backlog_max, avail - consumed)
            b0 = time.perf_counter()
            table.deliver(
                open_msgs[consumed:avail],
                [wall0 + j / rate for j in range(consumed, avail)],
            )
            b1 = time.perf_counter()
            freshness.extend(b1 - (t0 + j / rate) for j in range(consumed, avail))
            batches.append((consumed, avail, b1 - b0))
            consumed = avail
    finally:
        loop.halt()
    d0 = time.perf_counter()
    step = run.sizes.drain_batch
    for lo in range(0, len(drain_msgs), step):
        table.deliver(drain_msgs[lo : lo + step])
    drain_eps = len(drain_msgs) / (time.perf_counter() - d0) if drain_msgs else 0.0
    return IngestResult(freshness, batches, drain_eps, backlog_max, loop.lateness_max)


def replay_model(
    table: Table, res: IngestResult, open_msgs, drain_msgs
) -> tuple[list[int], model.LwwModel]:
    """Apply the delivered batches to the table's model (untimed); returns
    the keys each batch changed, drain batches included, and a copy of the
    model as it stood before the last batch."""
    step = table.run.sizes.drain_batch
    batches = [open_msgs[lo:hi] for lo, hi, _ in res.batches]
    batches += [drain_msgs[lo : lo + step] for lo in range(0, len(drain_msgs), step)]
    out, before = [], table.model.copy()
    for batch in batches:
        before = table.model.copy()
        out.append(table.model.apply(batch))
    return out, before


def cdc_streams(run: Run, g: gen.CdcGenerator) -> tuple[list, list]:
    n_open = int(run.sizes.rate * run.seconds)
    return g.stream(n_open), g.stream(run.sizes.drain_backlog)


def trace_cdc_layers(run: Run) -> None:
    """Patch the layer functions the CDC batch processor calls."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark import views
    from etl_pipeline_challenge_aladia_spark.streaming import pipeline as sp

    tr = run.tracer

    def parsed(df, rec):
        row = tr.force(
            rec,
            lambda: df.agg(
                F.count(F.lit(1)), F.sum(F.col("_corrupt").cast("long"))
            ).first(),
        )
        rec["rows"], rec["corrupt"] = int(row[0]), int(row[1] or 0)

    def transformed(df, rec):
        rec["rows"] = tr.force(rec, df.count)

    def merged(written, rec):
        rec["buckets_written"] = written

    def refreshed(dirty, rec):
        rec["dirty_groups"] = dirty

    tr.patch(sp, "parse_envelope", "structure.parse", parsed)
    tr.patch(sp, "envelopes_to_warehouse", "pipeline.transform", transformed)
    tr.patch(sp, "merge_warehouse_batch", "sinks.merge", merged)
    tr.patch(views, "refresh_video_stats_view", "views.refresh", refreshed)


def merge_files(table: Table, versions_before: int) -> list[tuple]:
    """(buckets, files, bytes, rows) per version committed since
    ``versions_before``, read from the warehouse directory."""
    current = int(table.manifest()["version"])
    return [table.version_files(v) for v in range(versions_before + 1, current + 1)]


def run_cdc_ingest(run: Run) -> None:
    s = run.sizes
    g = gen.CdcGenerator(run.seed)
    names = ["untraced", "traced"] if run.traced else ["untraced"]
    live = len(names)
    names += [f"setup{i}" for i in range(len(names), s.setups)]
    tables, preload_times = preload_tables(run, g, names)
    log(f"preloads done: {preload_times}")
    run.setup_parts["session.warm_s"] = warm_up_cdc(run, g, tables[:live])
    log("warm-up done")
    open_msgs, drain_msgs = cdc_streams(run, g)
    main = tables[0]

    # a traced run reports no end-to-end metrics; its untraced phase only
    # gives the freshness the tracing overhead is measured against
    main_drain = [] if run.traced else drain_msgs
    res = ingest_phase(run, main, open_msgs, main_drain)
    log(
        f"ingest done: {len(res.batches)} open-loop batches {[round(b[2], 2) for b in res.batches]}, "
        f"drain {len(main_drain) / max(res.drain_eps, 1e-9):.2f} s"
    )
    replay_model(main, res, open_msgs, main_drain)
    main.check()
    log("checks done")
    run.attempted += len(open_msgs) + len(main_drain)
    fresh = res.freshness_s
    p50, p90 = quantile(fresh, 0.5), quantile(fresh, 0.9)
    _, _, nbytes, _ = main.version_files()
    run.e2e.update(
        setup_s=run.setup_s(preload_times),
        latency_p50_ms=p50 * 1e3,
        latency_p75_ms=quantile(fresh, 0.75) * 1e3,
        throughput_per_s=res.drain_eps,
    )
    run.summary.update(
        ingest_freshness_p50_s=f"{p50:.3f} s",
        ingest_freshness_p90_s=f"{p90:.3f} s (n={len(fresh)} envelopes in {len(res.batches)} batches)",
        ingest_drain_eps=f"{res.drain_eps:.1f} 1/s ({len(main_drain)} envelopes)",
        warehouse_bytes_per_live_row=f"{nbytes / max(1, len(main.model.rows)):.1f} B",
    )
    if not run.traced:
        return

    traced = tables[1]
    run.tracer = Tracer(run.spark.sparkContext)
    run.tracing = True
    trace_cdc_layers(run)
    versions = [int(traced.manifest()["version"])]
    files = []

    def measure_commit():
        files.extend(merge_files(traced, versions[-1]))
        versions.append(int(traced.manifest()["version"]))

    traced.on_commit = measure_commit
    tres = ingest_phase(run, traced, open_msgs, drain_msgs)
    log("traced ingest done")
    run.tracer.restore()
    run.tracing = False
    traced.on_commit = None
    per_batch, before = replay_model(traced, tres, open_msgs, drain_msgs)
    traced.check()
    run.attempted += len(open_msgs) + len(drain_msgs)
    run.layer["trace.overhead_pct"] = 100.0 * (
        quantile(tres.freshness_s, 0.5) / p50 - 1.0
    )

    # the dashboard read mix on the warehouse the traced ingest left, its
    # change feed spanning the last batch
    reads = Reads(run, traced, before, versions[-2])
    blocks = read_requests(run.seed, sorted(traced.model.rows), 100)
    _, bad = reads.loop(blocks[:1], 0.0)
    run.fail("warm-up answers differing from the reference", bad)
    run.tracing = True
    n_spans = len(run.tracer.spans)
    lat, bad = reads.loop(blocks[1:], run.seconds)
    run.tracing = False
    run.attempted += len(lat)
    run.fail("answers differing from the reference", bad)
    log(f"reads done: {len(lat)} requests")
    run.tracer.attach_spark_counts()
    run.tracer.finish()
    record_cdc_layers(run, traced, tres, per_batch, files)
    for span_name in READ_SPANS.values():
        run.layer[span_name + "_ms"] = 1e3 * median_or_zero(
            [r["duration_s"] for r in run.tracer.named(span_name)]
        )
    run.layer["spark.jobs_per_read"] = mean_or_zero(
        [r["jobs_total"] for r in run.tracer.spans[n_spans:]]
    )

    # single-threaded baseline: the first drain batch alone, on local[1],
    # into the table of the untraced phase (which had no drain)
    run.session.restart(run.work, 1)
    first = drain_msgs[: s.drain_batch]
    d0 = time.perf_counter()
    main.deliver(first)
    run.layer["baseline.local1_drain_eps"] = len(first) / (time.perf_counter() - d0)
    main.model.apply(first)
    main.check()
    run.attempted += len(first)


def record_cdc_layers(run: Run, table: Table, res: IngestResult, per_batch, files) -> None:
    tr = run.tracer
    L = run.layer
    batch = tr.named("streaming.batch")
    parse = tr.named("structure.parse")
    transform = tr.named("pipeline.transform")
    merge = tr.named("sinks.merge")
    refresh = tr.named("views.refresh")
    L["streaming.batch_s"] = median_or_zero([r["duration_s"] for r in batch])
    L["spark.jobs_per_batch"] = mean_or_zero([r["jobs_total"] for r in batch])
    L["spark.tasks_per_batch"] = mean_or_zero([r["tasks_total"] for r in batch])
    L["structure.parse_s"] = median_or_zero([r["self_s"] for r in parse])
    L["structure.corrupt_rows"] = sum(r["corrupt"] for r in parse)
    L["pipeline.transform_s"] = median_or_zero([r["self_s"] for r in transform])
    clean = sum(r["rows"] - r["corrupt"] for r in parse)
    L["pipeline.rows_out_per_envelope"] = sum(r["rows"] for r in transform) / max(1, clean)
    L["gen.lateness_max_s"] = res.lateness_max_s
    L["ingest.backlog_max"] = res.backlog_max
    num_buckets = int(table.manifest()["num_buckets"])
    L["sinks.merge_s"] = median_or_zero([r["self_s"] for r in merge])
    written = [r["buckets_written"] for r in merge]
    L["sinks.merge_buckets_written"] = mean_or_zero(written)
    L["sinks.merge_bucket_touch_ratio"] = mean_or_zero(written) / num_buckets
    L["sinks.merge_files_written"] = mean_or_zero([f[1] for f in files])
    L["sinks.merge_bytes_written"] = mean_or_zero([f[2] for f in files])
    changed = sum(per_batch)
    L["sinks.rows_rewritten_per_changed_row"] = sum(f[3] for f in files) / max(1, changed)
    _, _, nbytes, _ = table.version_files()
    L["sinks.bytes_per_live_row"] = nbytes / max(1, len(table.model.rows))
    L["views.refresh_s"] = median_or_zero([r["self_s"] for r in refresh])
    dirty = [max(0, r["dirty_groups"]) for r in refresh]
    L["views.dirty_groups"] = mean_or_zero(dirty)
    groups = len({row[2] for row in table.model.rows.values()})
    L["views.dirty_group_ratio"] = mean_or_zero(dirty) / max(1, groups)


# ---------------------------------------------------------------------------
# dashboard reads (in the traced cdc_ingest run)
# ---------------------------------------------------------------------------


def read_requests(seed: int, keys: list[tuple], n_blocks: int) -> list[list[tuple]]:
    """Blocks of ten requests in the fixed 4/3/2/1 mix, shuffled per block;
    lookup keys are Zipf-popular (5% miss)."""
    rng = random.Random(seed * 7919 + 17)
    order = list(range(len(keys)))
    rng.shuffle(order)
    cum = gen.zipf_cum(len(keys))
    blocks = []
    for _ in range(n_blocks):
        kinds = list(REQUEST_MIX)
        rng.shuffle(kinds)
        block = []
        for kind in kinds:
            if kind == "key":
                if rng.random() < 0.05:
                    key = (f"{rng.getrandbits(96):024x}", "video_0", "session_0")
                else:
                    key = keys[order[bisect.bisect_left(cum, rng.random() * cum[-1])]]
                block.append(("key", key))
            elif kind == "topk":
                block.append(("topk", rng.choice((5, 10, 20))))
            else:
                block.append((kind, None))
        blocks.append(block)
    return blocks


class Reads:
    """The analyst's four requests and their reference answers."""

    def __init__(self, run: Run, table: Table, before: model.LwwModel, from_version: int):
        import pyarrow.dataset as ds

        self.run, self.table, self.from_version = run, table, from_version
        after = table.model
        view = (
            ds.dataset(table.view, format="parquet", exclude_invalid_files=True)
            .to_table()
            .to_pandas()
            .sort_values(
                ["n_sessions", "avg_watched_ratio", "video_id"],
                ascending=[False, False, True],
            )
        )
        columns = ["video_id", "avg_watched_ratio", "n_sessions", "max_watched_seconds"]
        self.view_rows = [tuple(r) for r in view[columns].itertuples(index=False)]
        self.rollup = after.rollup()
        self.changes = after.changes_since(before)

    def answer(self, kind: str, arg):
        from pyspark.sql import functions as F

        from etl_pipeline_challenge_aladia_spark import sinks, views

        spark, t = self.run.spark, self.table
        if kind == "key":
            rows = sinks.read_warehouse_key(spark, t.wh, list(arg)).select(*model.COLUMNS).collect()
            return [tuple(r) for r in rows]
        if kind == "topk":
            rows = (
                views.read_view(spark, t.view)
                .orderBy(F.desc("n_sessions"), F.desc("avg_watched_ratio"), F.asc("video_id"))
                .limit(arg)
                .select("video_id", "avg_watched_ratio", "n_sessions", "max_watched_seconds")
                .collect()
            )
            return [tuple(r) for r in rows]
        if kind == "rollup":
            rows = (
                sinks.read_warehouse(spark, t.wh)
                .groupBy("device_type", "quality")
                .agg(
                    F.count(F.lit(1)),
                    F.sum(F.coalesce(F.col("watched_seconds"), F.lit(0))),
                )
                .collect()
            )
            return {(r[0], r[1]): (r[2], r[3]) for r in rows}
        rows = (
            sinks.table_changes(spark, t.wh, from_version=self.from_version)
            .select("original_id", "video_id", "session_id", "version", "_change_type")
            .collect()
        )
        return {(r[0], r[1], r[2]): (r[3], r[4]) for r in rows}

    def expected(self, kind: str, arg):
        if kind == "key":
            row = self.table.model.rows.get(tuple(arg))
            return [] if row is None else [row]
        if kind == "topk":
            return self.view_rows[:arg]
        if kind == "rollup":
            return self.rollup
        return self.changes

    def loop(self, blocks: list[list[tuple]], seconds: float) -> tuple[list, int]:
        """Closed loop: the next request goes out when the previous answer
        is back. Whole blocks only, so every run has the exact mix: at
        least one, and another while under ``seconds``. Returns
        (kind, latency s) per request and the mismatching answers."""
        lat, answers = [], []
        t_end = time.perf_counter() + seconds
        requests = [r for block in blocks for r in block]
        i = 0
        while i == 0 or i % len(REQUEST_MIX) or time.perf_counter() < t_end:
            kind, arg = requests[i % len(requests)]
            i += 1
            t0 = time.perf_counter()
            try:
                with self.run.span(READ_SPANS[kind]):
                    got = self.answer(kind, arg)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                got = None
            lat.append((kind, time.perf_counter() - t0))
            answers.append((kind, arg, got))
        bad = sum(1 for kind, arg, got in answers if got != self.expected(kind, arg))
        return lat, bad


# ---------------------------------------------------------------------------
# curation batch
# ---------------------------------------------------------------------------


def write_corpus(path: Path, seed: int, docs: int, vectors: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            gen.documents_table(seed, docs),
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
        ),
        path / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            gen.embeddings_table(seed, vectors),
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        path / "embeddings.parquet",
    )


def curation_passes(run: Run, corpus: str, seconds: float) -> list[tuple]:
    """Whole passes over ``QUERIES``: at least one, and another only when
    it is expected to end within ``seconds`` at the last pass's pace.
    Returns (query, latency s, result frame) per execution."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    out = []
    t_start = time.perf_counter()
    last_pass = 0.0
    while not out or time.perf_counter() - t_start + last_pass <= seconds:
        t_pass = time.perf_counter()
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                with run.span(f"queries.{q}"):
                    got = CATALOG[q].spark(run.spark, corpus).toPandas()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                got = None
            out.append((q, time.perf_counter() - t0, got))
        last_pass = time.perf_counter() - t_pass
    return out


def pass_times(execs: list[tuple]) -> list[float]:
    """Seconds of each whole pass over ``QUERIES`` in ``execs``."""
    n = len(QUERIES)
    return [sum(t for _, t, _ in execs[i : i + n]) for i in range(0, len(execs), n)]


def oracle_results(corpus: str) -> dict[str, object]:
    import duckdb

    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{corpus}/duckdb-tmp'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        return {q: con.execute(CATALOG[q].oracle).df() for q in QUERIES}
    finally:
        con.close()


def run_curation_batch(run: Run) -> None:
    s = run.sizes
    corpus = run.work / "corpus"
    build_times = []
    for _ in range(s.setups):
        t0 = time.perf_counter()
        write_corpus(corpus, run.seed, s.docs, s.embeddings)
        build_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    if s.warm_docs:
        warm = run.work / "warm-corpus"
        write_corpus(warm, run.seed + 10**6, s.warm_docs, s.warm_docs)
        curation_passes(run, str(warm), 0.0)
    run.setup_parts["session.warm_s"] = time.perf_counter() - t0

    log("warm-up done")
    execs = curation_passes(run, str(corpus), run.seconds)
    log("passes done")
    traced = []
    if run.traced:
        run.tracer = Tracer(run.spark.sparkContext)
        run.tracing = True
        traced = curation_passes(run, str(corpus), run.seconds)
    want = oracle_results(str(corpus))
    log("oracle done")
    run.attempted += len(execs) + len(traced)
    run.fail(
        "query results differing from the DuckDB oracle",
        sum(1 for q, _, got in execs + traced if got is None or model.frame_mismatch(got, want[q])),
    )
    times = [t for _, t, _ in execs]
    pass_s = pass_times(execs)
    run.e2e.update(
        setup_s=run.setup_s(build_times),
        latency_p50_ms=quantile(pass_s, 0.5) * 1e3,
        latency_p75_ms=quantile(pass_s, 0.75) * 1e3,
        throughput_per_s=len(times) / sum(times),
    )
    run.summary.update(
        curation_pass_s=f"{statistics.median(pass_s):.3f} s (median of {len(pass_s)} passes)",
        query_latency_p50_ms=f"{quantile(times, 0.5) * 1e3:.1f} ms (n={len(times)} executions)",
    )
    if not run.traced:
        return
    run.tracer.attach_spark_counts()
    run.tracer.finish()
    for q in QUERIES:
        spans = run.tracer.named(f"queries.{q}")
        run.layer[f"queries.{q}_s"] = median_or_zero([r["duration_s"] for r in spans])
        run.layer[f"queries.{q}_jobs"] = mean_or_zero([r["jobs_total"] for r in spans])
    run.layer["trace.overhead_pct"] = 100.0 * (
        statistics.median(pass_times(traced)) / statistics.median(pass_s) - 1.0
    )


# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)

    # the program must be importable before anything is set up
    import etl_pipeline_challenge_aladia_spark.streaming.pipeline  # noqa: F401

    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    run = Run(args, work)
    try:
        t0 = time.perf_counter()
        run.session = Session(work, run.cpus)
        run.setup_parts["session.start_s"] = time.perf_counter() - t0
        {
            "cdc_ingest": run_cdc_ingest,
            "curation_batch": run_curation_batch,
        }[args.workload](run)
        run.layer["mem.peak_rss_mb"] = run.session.peak_rss_mb()
        log("workload done")
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        if run.session is not None:
            run.session.close()
        shutil.rmtree(work, ignore_errors=True)
        log("session closed")

    run.layer["session.start_s"] = run.setup_parts["session.start_s"]
    run.layer["session.warm_s"] = run.setup_parts["session.warm_s"]
    if run.tracer is not None:
        traces = out_dir / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        run.tracer.write(str(traces / f"{args.workload}-seed{args.seed}.json"))

    ratio = run.failed / max(1, run.attempted)
    run.summary.update(
        setup_s=f"{run.e2e['setup_s']:.3f} s",
        peak_rss_mb=f"{run.layer['mem.peak_rss_mb']:.0f} MB",
        failed_op_ratio=f"{ratio:g} ({run.failed}/{run.attempted})",
    )
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        + "  ".join(f"{k}={v}" for k, v in run.summary.items()),
        flush=True,
    )
    if args.trace:
        metrics = {k: {"value": float(run.layer[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
