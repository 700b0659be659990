"""JSON-expansion benchmark: one command per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Workloads, metrics
and the reasons behind them are in ``perfbench/NOTES.md``.

Everything the run writes stays under ``.perfbench_work/`` (removed at exit)
and, for traced runs, ``.perfbench_out/`` (span files) in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "kafka_connect_expand_json_transform_spark"
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
import measure  # noqa: E402
from spans import Tracer  # noqa: E402

# The reference connector's own SMT configuration.
CONNECT_CONFIG = {
    "type": "com.github.joshuagrisham.kafka.connect.transforms.ExpandJson$Value"
}
KAFKA_SCHEMA = "topic string, partition int, offset bigint, key string, value string"

SETUP_ROUNDS = 3        # setup_s is the median of this many set-ups
RUN_DEADLINE_S = 170    # abort (no result) rather than overrun 180 s
DRIVER_MEM = "2g"       # fixed heap (-Xms = -Xmx), well below the 15 GB box

# batch_expand_infer: fixed work sized from --seconds at a nominal rate
BATCH_OP_RECORDS = 400_000
BATCH_NOMINAL_RATE = 280_000
BATCH_WARM_RECORDS = 100_000

# stream_expand_paced: open loop, 10k records/s as one file per 50 ms
PACED_RATE = 10_000
PACED_PERIOD_MS = 50
PACED_WARM_S = 6.0       # files due earlier are not latency samples
PACED_GRACE_S = 20.0     # undelivered after this counts as failed
SAMPLE_RECORDS = 20_000  # the batch snapshot the streams infer from

# stream_backlog_txlog: closed loop, availableNow drain into the txlog table,
# four files per core in each micro-batch
BACKLOG_FILE_RECORDS = 5_000
BACKLOG_NOMINAL_RATE = 60_000
BACKLOG_FILES_PER_CORE = 4
BACKLOG_WARM_FILES = 4

EXTRA_CONF = {
    # keep every progress event and every job for the per-batch figures
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.showConsoleProgress": "false",
}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args) -> None:
        self.args = args
        self.seconds = float(args.seconds)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(
            ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.generator = None
        self.workers: list[subprocess.Popen] = []
        self.next_id = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s: list[float] = []
        self.session_start_s: list[float] = []
        self.e2e: dict = {}
        self.layer: dict = {}

    # -- bookkeeping -------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def ids(self, n: int) -> int:
        first, self.next_id = self.next_id, self.next_id + n
        return first

    def log(self, what: str) -> None:
        print(f"perfbench: {what}", file=sys.stderr, flush=True)

    def fail(self, what: str, count: int = 1) -> None:
        self.failed += count
        self.problems.append(what)

    def mod(self, name: str):
        # looked up at call time so the tracer's wrappers take effect
        return importlib.import_module(f"{PKG}.{name}")

    # -- session -----------------------------------------------------------
    def start_session(self):
        conf = dict(EXTRA_CONF)
        conf["spark.sql.warehouse.dir"] = self.path("warehouse")
        conf["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        )
        t = time.perf_counter()
        self.spark = self.mod("session").get_spark(
            app_name="perfbench", extra_conf=conf
        )
        self.session_start_s.append(time.perf_counter() - t)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop every process the run started and wait until each has ended:
        generators, then Spark and its JVM, then any process they left."""
        for proc in self.workers + [self.generator]:
            if proc is not None:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        others = set(measure.tree_pids(os.getpid())) - {os.getpid()}
        try:
            self.stop_session()
        finally:
            self.stop_gateway()
            measure.wait_ended(others, timeout=30)

    def stop_gateway(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None

    # -- process tree ------------------------------------------------------
    def tree(self) -> list[int]:
        skip = {self.generator.pid} if self.generator is not None else set()
        return measure.tree_pids(os.getpid(), skip)

    def cpu_now(self) -> float:
        return measure.cpu_seconds(self.tree())

    # -- helpers shared by the workloads ------------------------------------
    def expander(self):
        return self.mod("sources.kafka").from_connect_config(CONNECT_CONFIG)

    def check_schema(self, df, where: str) -> None:
        got = df.schema["value"].dataType.simpleString()
        if got != loadgen.EXPECTED_VALUE_SCHEMA:
            self.fail(f"{where}: schema {got}")

    def check_sums(self, got: dict, want: dict, where: str) -> None:
        for k, v in want.items():
            if got.get(k) != v:
                self.fail(f"{where}: {k} {got.get(k)} != {v}")
        if got.get("big_bad"):
            self.fail(f"{where}: {got['big_bad']} big-integer texts differ")


def checksum_columns():
    """Aggregates over an expanded frame that the generator's checksums and
    the beyond-64-bit text rule are checked against."""
    from pyspark.sql import functions as F

    v = F.col("value")
    want_big = F.concat(
        F.lit(loadgen.BIG_BASE_DIGIT),
        F.lpad((v["id"].cast("long") * loadgen.BIG_ID_FACTOR).cast("string"), 19, "0"),
    )
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(v["id"].cast("long")).alias("id_sum"),
        F.sum(
            F.aggregate(v["items"], F.lit(0).cast("long"), lambda acc, x: acc + x["qty"])
        ).alias("qty_sum"),
        F.sum(F.when(~v["big"].eqNullSafe(want_big), 1).otherwise(0)).alias("big_bad"),
    ]


def write_sets(run: Run, jobs: list[tuple]) -> list[dict]:
    """Write file sets in parallel generator processes, one per CPU at most,
    and return their checksums in job order."""
    n = min(run.cpus, len(jobs))
    cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "sets"]
    for w in range(n):
        proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        run.workers.append(proc)
        proc.stdin.write(json.dumps(jobs[w::n]))
        proc.stdin.close()
    outs = []
    for proc in run.workers:
        out = proc.stdout.read()
        proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator process exited {proc.returncode}")
        outs.append(json.loads(out))
    run.workers.clear()
    return [outs[i % n][i // n] for i in range(len(jobs))]


# ---------------------------------------------------------------------------
# batch_expand_infer
# ---------------------------------------------------------------------------


def batch_op(run: Run, path: str, want: dict, op: str, traced: bool) -> float:
    """Read a never-seen file set, expand ``value`` with sample inference,
    write the result to the noop sink and check it.  Returns seconds."""
    from pyspark.sql import Observation

    spark, tracer = run.spark, run.tracer
    if tracer is not None:
        tracer.enabled, tracer.op = traced, op
    spark.sparkContext.setJobGroup(op, op)
    run.attempted += 1
    failed_before = run.failed
    obs = Observation(op)
    t = time.perf_counter()
    try:
        out = run.expander()(spark.read.parquet(path))
        writer = out.observe(obs, *checksum_columns()).write.format("noop")
        if tracer is not None and traced:
            with tracer.span("expand_json.action"):
                writer.mode("overwrite").save()
        else:
            writer.mode("overwrite").save()
        got = obs.get
    except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
        run.fail(f"{op}: {type(e).__name__}: {e}")
        return time.perf_counter() - t
    elapsed = time.perf_counter() - t
    run.check_schema(out, op)
    run.check_sums(got, want, op)
    if run.failed > failed_before:  # one failed op, however many checks
        run.failed = failed_before + 1
    return elapsed


def batch_expand_infer(run: Run) -> None:
    n_ops = max(4, round(run.seconds * BATCH_NOMINAL_RATE / BATCH_OP_RECORDS))
    files = 2 * run.cpus
    t = time.perf_counter()
    jobs = [
        (run.path(f"warm{r}"), run.args.seed, run.ids(BATCH_WARM_RECORDS),
         BATCH_WARM_RECORDS, files)
        for r in range(SETUP_ROUNDS)
    ] + [
        (run.path(f"op{i}"), run.args.seed, run.ids(BATCH_OP_RECORDS),
         BATCH_OP_RECORDS, files)
        for i in range(n_ops)
    ]
    sums = write_sets(run, jobs)
    run.layer["loadgen.prepare_s"] = time.perf_counter() - t
    run.log(f"prepared inputs in {run.layer['loadgen.prepare_s']:.2f} s")

    for r in range(SETUP_ROUNDS):
        if r:
            run.stop_session()
        t = time.perf_counter()
        run.start_session()
        batch_op(run, jobs[r][0], sums[r], f"warm{r}", traced=False)
        run.setup_s.append(time.perf_counter() - t)

    op_jobs, op_sums = jobs[SETUP_ROUNDS:], sums[SETUP_ROUNDS:]
    durations, traced = [], []
    cpu0 = run.cpu_now()
    for i, (job, want) in enumerate(zip(op_jobs, op_sums)):
        durations.append(batch_op(run, job[0], want, f"op{i}", traced=i % 2 == 0))
        traced.append(i % 2 == 0)
    cpu = run.cpu_now() - cpu0
    records = n_ops * BATCH_OP_RECORDS
    run.e2e.update(
        records_per_s=BATCH_OP_RECORDS / measure.median(durations),
        cpu_s_per_mrecord=cpu / (records / 1e6),
    )
    if run.tracer is not None:
        units = [f"op{i}" for i, tr in enumerate(traced) if tr]
        on = [d for d, tr in zip(durations, traced) if tr]
        off = [d for d, tr in zip(durations, traced) if not tr]
        run.layer["trace.overhead_share"] = measure.median(on) / measure.median(off) - 1
        layer_from_spans(run, units)
        layer_from_jobs(run, units, [f"op{i}" for i in range(n_ops)])
        run.layer["expand_json.action_s"] = measure.median(
            [s["end"] - s["start"] for s in run.tracer.of("expand_json.action")]
        )


# ---------------------------------------------------------------------------
# streams
# ---------------------------------------------------------------------------


def stream_frame(run: Run, in_dir: str, sample_dir: str, options: dict):
    """The stream under test: the file source carrying the Kafka tuple,
    expanded by the reference's connector config with a sample snapshot."""
    spark = run.spark
    src = run.mod("streaming.sources").file_stream_source(
        spark, in_dir, KAFKA_SCHEMA, fmt="parquet", options=options
    )
    out = run.expander()(src, sample_df=spark.read.parquet(sample_dir))
    run.check_schema(out, "stream")
    return out


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def observed_totals(events: list[dict]) -> dict:
    tot: dict = {}
    for p in events:
        for k, v in (p.get("observedMetrics") or {}).get("chk", {}).items():
            tot[k] = tot.get(k, 0) + (v or 0)
    return tot


def batch_ends_ms(events: list[dict]) -> dict[int, float]:
    """Micro-batch id -> wall time its trigger finished (epoch ms)."""
    return {
        p["batchId"]: measure.iso_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        for p in events
        if p["numInputRows"] > 0
    }


def stream_expand_paced(run: Run) -> None:
    t = time.perf_counter()
    jobs = [
        (run.path(f"sample{r}"), run.args.seed, run.ids(SAMPLE_RECORDS),
         SAMPLE_RECORDS, run.cpus)
        for r in range(SETUP_ROUNDS)
    ]
    sums = write_sets(run, jobs)
    run.layer["loadgen.prepare_s"] = time.perf_counter() - t
    run.log(f"prepared inputs in {run.layer['loadgen.prepare_s']:.2f} s")
    paced_first_id = run.ids(0)

    query = None
    for r in range(SETUP_ROUNDS):
        if r:
            run.stop_session()
        t = time.perf_counter()
        run.start_session()
        batch_op(run, jobs[r][0], sums[r], f"warm{r}", traced=False)
        in_dir = run.path(f"in{r}")
        os.makedirs(in_dir)
        if run.tracer is not None:
            run.tracer.enabled, run.tracer.op = True, f"stream{r}"
        out = stream_frame(run, in_dir, jobs[r][0], {})
        query = (
            out.observe("chk", *checksum_columns())
            .writeStream.format("noop")
            .option("checkpointLocation", run.path(f"ckpt{r}"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        run.setup_s.append(time.perf_counter() - t)

    ckpt = run.path(f"ckpt{SETUP_ROUNDS - 1}")
    report_path = run.path("paced-report.json")
    gen_s = PACED_WARM_S + run.seconds
    run.generator = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "loadgen.py"), "paced",
            "--out", in_dir, "--tmp", run.path("staging"),
            "--seed", str(run.args.seed), "--rate", str(PACED_RATE),
            "--period-ms", str(PACED_PERIOD_MS), "--seconds", str(gen_s),
            "--start-id", str(paced_first_id), "--report", report_path,
        ],
        stdin=subprocess.DEVNULL,
    )
    time.sleep(PACED_WARM_S)
    cpu0, t0 = run.cpu_now(), time.perf_counter()
    run.generator.wait(timeout=gen_s + 30)
    cpu = run.cpu_now() - cpu0
    window_s = time.perf_counter() - t0
    if run.generator.returncode != 0:
        raise RuntimeError(f"paced generator exited {run.generator.returncode}")
    with open(report_path) as f:
        report = json.load(f)
    files = report["files"]

    # drain: wait until every generated file is in a completed micro-batch
    deadline = time.time() + PACED_GRACE_S
    while True:
        owner = measure.source_log_batches(ckpt)
        ends = batch_ends_ms(progress(query))
        pending = [x for x in files if owner.get(x["name"]) not in ends]
        if not pending or time.time() > deadline:
            break
        time.sleep(0.2)
    query.stop()
    events = progress(query)
    ends = batch_ends_ms(events)
    owner = measure.source_log_batches(ckpt)

    run.attempted += len(files)
    if pending:
        run.fail(f"{len(pending)} paced files undelivered", len(pending))
    want: dict = {}
    for x in files:
        want = loadgen.add_checksums(want, {k: x[k] for k in ("rows", "id_sum", "qty_sum")})
    run.check_sums(observed_totals(events), want, "paced stream")

    t_start_ms = files[0]["due_ms"] + PACED_WARM_S * 1000
    window = [x for x in files if x["due_ms"] >= t_start_ms and x["name"] in owner]
    lat = [ends[owner[x["name"]]] - x["due_ms"] for x in window if owner[x["name"]] in ends]
    if measure.samples_beyond(len(lat), 95) < 10:
        run.fail(f"only {len(lat)} latency samples")
    lag_p99 = measure.percentile([x["lag_ms"] for x in files], 99)
    if lag_p99 > PACED_PERIOD_MS:
        run.fail(f"generator lag p99 {lag_p99:.1f} ms exceeds one period")
    records = sum(x["rows"] for x in window)
    run.e2e.update(
        records_per_s=records / window_s,
        event_latency_ms_p50=measure.percentile(lat, 50),
        event_latency_ms_p95=measure.percentile(lat, 95),
        cpu_s_per_mrecord=cpu / (records / 1e6),
    )
    run.layer["loadgen.lag_ms_p99"] = lag_p99
    if run.tracer is not None:
        layer_from_spans(run, [f"stream{SETUP_ROUNDS - 1}"])
        layer_from_progress(run, events, query)


def stream_backlog_txlog(run: Run) -> None:
    n_files = max(8, round(run.seconds * BACKLOG_NOMINAL_RATE / BACKLOG_FILE_RECORDS))
    t = time.perf_counter()
    jobs = [
        (run.path(f"sample{r}"), run.args.seed, run.ids(SAMPLE_RECORDS),
         SAMPLE_RECORDS, run.cpus)
        for r in range(SETUP_ROUNDS)
    ] + [
        (run.path(f"warm{r}"), run.args.seed,
         run.ids(BACKLOG_WARM_FILES * BACKLOG_FILE_RECORDS),
         BACKLOG_WARM_FILES * BACKLOG_FILE_RECORDS, BACKLOG_WARM_FILES)
        for r in range(SETUP_ROUNDS)
    ] + [
        (run.path("backlog"), run.args.seed,
         run.ids(n_files * BACKLOG_FILE_RECORDS), n_files * BACKLOG_FILE_RECORDS,
         n_files)
    ]
    sums = write_sets(run, jobs)
    run.layer["loadgen.prepare_s"] = time.perf_counter() - t
    run.log(f"prepared inputs in {run.layer['loadgen.prepare_s']:.2f} s")
    # four files per core in each micro-batch; Spark packs these small files
    # into about one task per core
    options = {"maxFilesPerTrigger": str(BACKLOG_FILES_PER_CORE * run.cpus)}
    sinks = run.mod("streaming.sources")
    txlog = run.mod("sources.txlog")

    for r in range(SETUP_ROUNDS):
        if r:
            run.stop_session()
        t = time.perf_counter()
        run.start_session()
        sample_dir = jobs[r][0]
        batch_op(run, sample_dir, sums[r], f"warm{r}", traced=False)
        warm = stream_frame(run, jobs[SETUP_ROUNDS + r][0], sample_dir, options)
        sinks.foreach_batch_sink(
            warm, txlog.foreach_batch_sink(run.path(f"warm-table{r}")),
            run.path(f"warm-ckpt{r}"),
        ).awaitTermination(60)
        if run.tracer is not None:
            run.tracer.enabled, run.tracer.op = True, f"stream{r}"
        out = stream_frame(run, run.path("backlog"), sample_dir, options)
        run.setup_s.append(time.perf_counter() - t)

    root = run.path("table")
    sink = txlog.foreach_batch_sink(root)
    tracer = run.tracer

    def timed_sink(batch_df, batch_id):
        if tracer is not None:
            tracer.enabled, tracer.op = batch_id % 2 == 0, f"batch{batch_id}"
        return sink(batch_df, batch_id)

    want = sums[-1]
    n = want["rows"]
    cpu0 = run.cpu_now()
    query = sinks.foreach_batch_sink(out, timed_sink, run.path("ckpt"))
    done = query.awaitTermination(RUN_DEADLINE_S / 2)
    cpu = run.cpu_now() - cpu0
    if not done:
        query.stop()
        run.fail("backlog drain did not finish")
    if query.exception() is not None:
        run.fail(f"backlog query failed: {query.exception()}")
    events = progress(query)
    data = [p for p in events if p["numInputRows"] > 0]

    from pyspark.sql import functions as F

    table = txlog.read_table(run.spark, root)
    run.check_schema(table, "txlog table")
    got = table.agg(
        *checksum_columns(), F.countDistinct("value.id").alias("distinct_ids")
    ).first().asDict()
    run.attempted += n
    if got["rows"] != n:
        run.fail(f"txlog rows {got['rows']} != {n}", abs(got["rows"] - n))
    if got["distinct_ids"] != n:
        run.fail(f"txlog distinct ids {got['distinct_ids']} != {n}",
                 abs(got["distinct_ids"] - n))
    run.check_sums(got, {k: want[k] for k in ("id_sum", "qty_sum")}, "txlog table")

    run.e2e.update(
        records_per_s=measure.median([p["processedRowsPerSecond"] for p in data]),
        cpu_s_per_mrecord=cpu / (n / 1e6),
    )
    if tracer is not None:
        layer_from_spans(run, [f"stream{SETUP_ROUNDS - 1}"])
        layer_from_progress(run, events, query)
        sink_ms = [
            (s["end"] - s["start"]) * 1e3
            for s in sorted(tracer.of("txlog.sink"), key=lambda s: s["start"])
        ]
        q = max(1, len(sink_ms) // 4)
        run.layer["txlog.sink_ms_p50"] = measure.median(sink_ms)
        run.layer["txlog.sink_growth"] = (
            measure.median(sink_ms[-q:]) / measure.median(sink_ms[:q])
        )
        data_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(root, "data"))
            for f in fs
            if f.endswith(".parquet")
        )
        run.layer["txlog.bytes_per_record"] = data_bytes / n
        on = [p["durationMs"]["triggerExecution"] for p in data if p["batchId"] % 2 == 0]
        off = [p["durationMs"]["triggerExecution"] for p in data if p["batchId"] % 2 == 1]
        run.layer["trace.overhead_share"] = measure.median(on) / measure.median(off) - 1


# ---------------------------------------------------------------------------
# per-layer figures
# ---------------------------------------------------------------------------


def layer_from_spans(run: Run, units: list[str]) -> None:
    tr = run.tracer

    def durations(name):
        return [s["end"] - s["start"] for u in units for s in tr.of(name, u)]

    sample, merge = durations("schema_inference.sample"), durations("schema_inference.merge")
    plan = [
        a["end"] - a["start"]
        - sum(s["end"] - s["start"] for n in ("schema_inference.sample",
                                              "schema_inference.merge")
              for s in tr.of(n, u))
        for u in units
        for a in tr.of("connect.apply", u)
    ]
    run.layer.update({
        "schema_inference.sample_s": measure.median(sample),
        "schema_inference.merge_s": measure.median(merge),
        "schema_inference.calls": len(merge) / len(units),
        "expand_json.plan_s": measure.median(plan),
    })


def layer_from_jobs(run: Run, traced_units: list[str], window_units: list[str]) -> None:
    """Jobs and tasks per unit, and stage totals over the timed window, from
    the Spark UI's REST API."""
    jobs = measure.spark_rest(run.spark, "jobs")
    stages = measure.spark_rest(run.spark, "stages")
    by_unit: dict[str, list[dict]] = {}
    for j in jobs:
        by_unit.setdefault(measure.job_unit(j), []).append(j)
    run.layer["spark.jobs_per_op"] = measure.median(
        [len(by_unit.get(u, [])) for u in traced_units]
    )
    run.layer["spark.tasks"] = measure.median(
        [sum(j["numTasks"] for j in by_unit.get(u, [])) for u in traced_units]
    )
    ids = {s for u in window_units for j in by_unit.get(u, []) for s in j["stageIds"]}
    run.layer.update(
        {f"spark.{k}": v for k, v in measure.stage_totals(stages, ids).items()}
    )


def layer_from_progress(run: Run, events: list[dict], query) -> None:
    data = [p for p in events if p["numInputRows"] > 0]
    d = [p["durationMs"] for p in data]

    def p50(key):
        return measure.median([x.get(key, 0) for x in d])

    run.layer.update({
        "streaming.batches": float(len(data)),
        "streaming.records_per_batch_p50": measure.median([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.latest_offset_ms_p50": p50("latestOffset"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.get_batch_ms_p50": p50("getBatch"),
        "streaming.overhead_share": 1 - sum(x.get("addBatch", 0) for x in d)
        / sum(x["triggerExecution"] for x in d),
    })
    units = [f"{query.runId}/{p['batchId']}" for p in data]
    layer_from_jobs(run, units, units)


WORKLOADS = {
    "batch_expand_infer": batch_expand_infer,
    "stream_expand_paced": stream_expand_paced,
    "stream_backlog_txlog": stream_backlog_txlog,
}

# per-layer metric -> unit; a metric a workload does not exercise reads 0
LAYER_UNITS = {
    "loadgen.prepare_s": "s",
    "loadgen.lag_ms_p99": "ms",
    "session.start_s": "s",
    "schema_inference.sample_s": "s",
    "schema_inference.merge_s": "s",
    "schema_inference.calls": "count",
    "expand_json.plan_s": "s",
    "expand_json.action_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_bytes": "B",
    "streaming.batches": "count",
    "streaming.records_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.get_batch_ms_p50": "ms",
    "streaming.overhead_share": "ratio",
    "txlog.sink_ms_p50": "ms",
    "txlog.sink_growth": "ratio",
    "txlog.bytes_per_record": "B/record",
    "trace.overhead_share": "ratio",
}
# the latency metrics are only measured on the paced workload
E2E_UNITS = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "event_latency_ms_p50": "ms",
    "event_latency_ms_p95": "ms",
    "cpu_s_per_mrecord": "s",
    "peak_rss_mb": "MB",
}


def pin_environment(run: Run) -> None:
    """Identical settings on every commit: one Spark core per CPU of this
    box, a bounded heap, and every scratch file inside the checkout."""
    os.makedirs(run.path("tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="JSON-expansion benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(143))
    signal.alarm(RUN_DEADLINE_S)
    run = Run(args)
    pin_environment(run)
    try:
        if run.tracer is not None:
            run.tracer.install()
        WORKLOADS[args.workload](run)
        run.log(f"setup rounds {[round(x, 3) for x in run.setup_s]} s")
        run.e2e["setup_s"] = measure.median(run.setup_s)
        run.e2e["peak_rss_mb"] = measure.peak_rss_mb(run.tree())
        if run.tracer is not None:
            run.layer["session.start_s"] = measure.median(run.session_start_s)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            run.tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"
            ))
    finally:
        signal.alarm(0)
        try:
            run.shutdown()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)

    for problem in run.problems:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u}
                   for k, u in E2E_UNITS.items() if k in run.e2e}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
