"""Streaming-ingest benchmark for ``format("s3-connector")``.

    python3 perfbench/run.py --workload {bulk_files,small_files} \\
        --seed N --seconds S --trace {0,1}

Run it from the repository root. One run:

1. has the generator process (``generator.py``) write every input file of
   the workload from ``--seed`` (not timed);
2. starts a ``local[<cores>]`` Spark session, then starts the stream
   several times, each on a fresh checkpoint, until one warm-up file is
   committed (``setup_s``);
3. drains an untimed warm-up backlog;
4. three times in turn, announces files on a seeded Poisson schedule for a
   third of ``--seconds`` and times each from when it was due to its
   commit (``latency_p50_ms``, ``latency_p95_ms``, over all windows), then
   announces a backlog at once and times it to its last commit
   (``drain_rows_per_s``, the median of the three); the slices spread each
   metric over the run;
5. stops and restarts the query on the same checkpoint and metadata log
   while redeliveries of old files are screened (its time is the traced
   run's ``state.restart_s``);
6. checks that every announced file landed in the sink exactly once with
   its expected rows.

With ``--trace 1`` the run is instrumented (``tracing.py``), sets up once
instead of three times and times one slice instead of three, adds a
curation phase and comparison drains, and prints the per-layer metrics
instead. The last line
of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Scratch files live under
``.perfbench_work/`` in the working directory and are removed at exit.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import generator  # noqa: E402
import stats  # noqa: E402

LINEITEM_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate date, l_commitdate date, "
    "l_receiptdate date, l_shipinstruct string, l_shipmode string, l_comment string, "
    "file_id int"
)
DOC_DDL = "doc_id bigint, lang string, text string, file_id int"
PHASE_TIMEOUT_S = 90.0


def log(msg: str) -> None:
    """Progress on stderr; standard output carries only the result line."""
    print(f"[perfbench {time.monotonic() - PROCESS_T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- sink record


class SinkRecord:
    """What a sink committed: per (query, batch id) the files it held and
    when the batch committed, and per file the time of its first commit.
    Keyed by batch, so a replayed batch overwrites itself as an idempotent
    sink's would."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: dict[tuple, dict] = {}
        self._first_commit: dict[int, float] = {}

    def record(self, key: tuple, files: dict) -> None:
        t = time.monotonic()
        with self._lock:
            self.batches[key] = {"t": t, "files": files}
            for fid in files:
                self._first_commit.setdefault(int(fid), t)

    def batch_sizes(self, file_ids) -> list[int]:
        """How many of ``file_ids`` each batch held, in commit order."""
        want = set(file_ids)
        with self._lock:
            held = sorted((b["t"], len(want.intersection(b["files"]))) for b in self.batches.values())
        return [n for _, n in held if n]

    def commit_times(self) -> dict[int, float]:
        with self._lock:
            return dict(self._first_commit)

    def wait_for(self, file_ids, timeout_s: float, poll_s: float = 0.05) -> bool:
        """Wait until every file committed. Timings come from the sink's own
        record, so the poll interval only sets how soon the wait ends; it is
        long enough not to compete with the sink for the interpreter."""
        pending = set(file_ids)
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                pending.difference_update(self._first_commit)
            if not pending:
                return True
            if time.monotonic() >= deadline:
                return False
            time.sleep(poll_s)


def q1_sink(record: SinkRecord, query_name: str):
    """foreachBatch sink: one Q1-style aggregation grouped by file id and
    the Q1 keys that reads all 16 lineitem columns."""
    from pyspark.sql import functions as F

    def sink(df, batch_id: int) -> None:
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        rows = (
            df.groupBy("file_id", "l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice"),
                F.sum(disc),
                F.sum(disc * (1 + F.col("l_tax"))),
                F.avg("l_discount"),
                F.sum("l_orderkey"), F.sum("l_partkey"), F.sum("l_suppkey"),
                F.sum("l_linenumber"),
                F.max("l_shipdate"), F.max("l_commitdate"), F.max("l_receiptdate"),
                F.max("l_shipinstruct"), F.max("l_shipmode"),
                F.max(F.length("l_comment")),
            )
            .collect()
        )
        files: dict[int, dict] = {}
        for r in rows:
            f = files.setdefault(int(r["file_id"]), {"rows": 0, "qty": 0.0})
            f["rows"] += r["n"]
            f["qty"] += r["sum_qty"]
        record.record((query_name, batch_id), files)

    return sink


# ---------------------------------------------------------------- the run


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.root = os.path.join(work, "in")
        self.cores = cores
        self.spec = generator.WORKLOADS[workload]
        # a traced run sets up once and times one slice: its figures are
        # per-layer, and it has curation and comparison drains to fit in
        self.setups = 1 if trace else self.spec["setups"]
        self.slices = 1 if trace else generator.SLICES
        self.record = SinkRecord()
        self.spark = None
        self.query = None
        self.query_name = ""
        self.tracer = None
        self.plan: dict = {}
        self.announce_logs: dict[str, list[dict]] = {}
        self.out: dict = {}
        self.lineitem_schema = None  # a StructType; parsing DDL needs a session

    # -- inputs

    def generate(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "generator.py"), "write",
             "--workload", self.workload, "--seed", str(self.seed),
             "--seconds", str(self.seconds), "--root", self.root],
            check=True, timeout=120,
        )
        with open(os.path.join(self.root, "plan.json")) as fh:
            self.plan = json.load(fh)
        # write the inputs back to disk now, not in the middle of a timed phase
        os.sync()

    def fresh_meta(self, tag: str = "") -> str:
        """A metadata path that starts from the workload's prior log, if any."""
        meta = os.path.join(self.root, f"meta-{tag}" if tag else "meta")
        prior = os.path.join(self.root, "prior-log")
        if os.path.isdir(prior) and tag != "cur":
            shutil.copytree(prior, meta)
            os.sync()
        return meta

    def announce(self, phase: str, lead_s: float = 0.0, tag: str = "") -> tuple:
        t0 = time.monotonic() + lead_s
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "generator.py"), "announce",
             "--root", self.root, "--phase", phase, "--t0", repr(t0), "--tag", tag],
        )
        return proc, t0

    def finish_announce(self, phase: str, proc, tag: str = "") -> list[dict]:
        try:
            proc.wait(timeout=PHASE_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"generator failed announcing {phase}")
        events = self.read_announce_log(phase, tag)
        if not tag:
            self.announce_logs[phase] = events
        return events

    def read_announce_log(self, phase: str, tag: str = "") -> list[dict]:
        with open(generator.announce_log_path(self.root, phase, tag)) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def announce_now(self, phase: str, tag: str = "") -> list[dict]:
        return self.finish_announce(phase, self.announce(phase, tag=tag)[0], tag)

    def phase_files(self, phase: str) -> list[int]:
        """Files first announced in a phase (redeliveries excluded)."""
        return generator.new_files(self.plan, phase)

    def rows_of(self, fids) -> int:
        return sum(self.plan["files"][f]["rows"] for f in fids)

    # -- Spark

    def start_session(self, cores: int, traced: bool) -> None:
        from pyspark.sql import SparkSession

        from spark_streaming_sql_s3_connector_spark.session import apply_engine_defaults
        from spark_streaming_sql_s3_connector_spark.sources.datasource import register

        tmp = os.path.join(self.work, "tmp")
        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            # keep the JVM's temporary files, perf-data file included, in the checkout
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            # the JVM keeps the settings of the session that launched it as
            # defaults, so a session after the traced one turns its event
            # log off again
            .config("spark.eventLog.enabled", "false")
        )
        if traced:
            builder = self.tracer.configure(builder)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        apply_engine_defaults(self.spark)
        register(self.spark)
        if self.lineitem_schema is None:
            from pyspark.sql.types import _parse_datatype_string

            self.lineitem_schema = _parse_datatype_string(LINEITEM_DDL)
        if traced:
            self.tracer.attach(self.spark)

    def source_options(self, tag: str = "", curation: bool = False) -> dict:
        return {
            "spark.s3conn.fileFormat": "json" if curation else "parquet",
            "spark.s3conn.queueUrl": f"local://{generator.queue_dir(self.root, tag)}",
            "spark.s3conn.queueType": "local",
            "spark.s3conn.queueFetchWaitTimeoutSeconds": "1",
            "spark.s3conn.metadataPath": os.path.join(self.root, f"meta-{tag}" if tag else "meta"),
            "spark.s3conn.maxFilesPerTrigger": str(
                generator.CURATION["max_files_per_trigger"] if curation
                else self.spec["max_files_per_trigger"]),
            "spark.s3conn.partitionColumns": "file_id",
            "basePath": os.path.join(self.root, "data"),
        }

    def start_query(self, name: str, record: SinkRecord, tag: str = "", curation: bool = False):
        reader = self.spark.readStream.format("s3-connector").schema(
            DOC_DDL if curation else LINEITEM_DDL)
        for k, v in self.source_options(tag, curation).items():
            reader = reader.option(k, v)
        df = reader.load()
        ckpt = os.path.join(self.work, "ckpt", name)
        if curation:
            from spark_streaming_sql_s3_connector_spark.streaming import curation as cur

            self._record_curation(name, record)
            return cur.streaming_curation_incremental(
                df, self.pipeline_dir(name), ckpt,
                expected_total_items=100_000,
                vacuum_every=generator.CURATION["vacuum_every"],
            )
        return df.writeStream.foreachBatch(q1_sink(record, name)).option(
            "checkpointLocation", ckpt).start()

    def pipeline_dir(self, name: str) -> str:
        return os.path.join(self.work, "pipeline", name)

    def _record_curation(self, name: str, record: SinkRecord) -> None:
        """Record each curation trigger's files when it returns: a wrapper
        on the public ``process_curation_batch_incremental``, which the
        stream's foreachBatch looks up by module attribute."""
        from pyspark.sql import functions as F

        from spark_streaming_sql_s3_connector_spark.streaming import curation

        orig = curation.process_curation_batch_incremental

        def recorded(batch, batch_id, pipeline_dir, *a, **kw):
            counts = batch.groupBy("file_id").agg(F.count(F.lit(1)).alias("n")).collect()
            orig(batch, batch_id, pipeline_dir, *a, **kw)
            record.record((name, batch_id), {int(r["file_id"]): {"rows": r["n"]} for r in counts})

        curation.process_curation_batch_incremental = recorded

    def settle(self, query=None) -> None:
        """Let a query consume everything already announced (redeliveries,
        removals), so the exactly-once check sees their effect. Not timed."""
        (query or self.query).processAllAvailable()

    # -- phases

    def phase_setup(self) -> None:
        self.fresh_meta()
        startups = []
        for k in range(self.setups):
            phase = f"setup{k}"
            if self.query is not None:
                self.query.stop()
            self.announce_now(phase)
            t = time.monotonic()
            self.query_name = phase
            self.query = self.start_query(phase, self.record)
            fids = self.phase_files(phase)
            if not self.record.wait_for(fids, PHASE_TIMEOUT_S):
                raise RuntimeError(f"warm-up file of {phase} never committed")
            startups.append(self.record.commit_times()[fids[0]] - t)
        self.out["stream_startup_s"] = startups

    def timed_drain(self, phase: str, record: SinkRecord, tag: str = "") -> tuple[int, float]:
        """Announce a phase's files at once. Returns their rows and the time
        from the first announcement to the commit of the last file, or 0 s
        if one never lands."""
        fids = self.phase_files(phase)
        proc, _ = self.announce(phase, tag=tag)
        done = record.wait_for(fids, PHASE_TIMEOUT_S)
        events = self.finish_announce(phase, proc, tag)
        if not done:
            return self.rows_of(fids), 0.0
        commits = record.commit_times()
        first = min(ev["sent"] for ev in events)
        seconds = max(commits[f] for f in fids) - first
        log(f"{phase}: {seconds:.3f} s, files per batch {record.batch_sizes(fids)}")
        return self.rows_of(fids), seconds

    def open_window(self, phase: str) -> tuple[list[float], float, float]:
        """One open-loop window: per-file latencies (``MISSING`` for a file
        never committed), how long it waited and how late the generator ran."""
        fids = self.phase_files(phase)
        events = self.plan["phases"][phase]
        proc, t0 = self.announce(phase, lead_s=0.25)
        if self.tracer is not None:
            self.tracer.watch_backlog(generator.queue_dir(self.root))
        last_due = t0 + max(ev["due"] for ev in events)
        self.record.wait_for(fids, max(0.0, last_due - time.monotonic()) + PHASE_TIMEOUT_S / 3)
        waited_ms = (time.monotonic() - t0) * 1000.0
        sent = self.finish_announce(phase, proc)
        if self.tracer is not None:
            self.tracer.stop_backlog()
        commits = self.record.commit_times()
        due: dict[int, float] = {}
        for ev in sent:
            if ev["event"] == "created":
                due.setdefault(ev["file_id"], ev["due"])
        lat = [(commits[f] - due[f]) * 1000.0 if f in commits else stats.MISSING for f in fids]
        self.settle()
        return lat, waited_ms, max((ev["sent"] - ev["due"]) * 1000.0 for ev in sent)

    def drain_slices(self, record: SinkRecord, slices: int, before=None) -> float:
        """The median over the first ``slices`` drain slices of each one's
        rows per second, or 0 if one never finished. ``before(k)`` runs
        before slice ``k``. Each slice's rows and seconds go to
        ``out["drain_slices"]``."""
        done = []
        for k in range(slices):
            if before is not None:
                before(k)
            wall = time.time()
            done.append(self.timed_drain(f"drain{k}", record))
            if self.tracer is not None:
                self.tracer.drain_windows.append((wall, time.time()))
            self.settle()
        self.out["drain_slices"] = done
        log("drain slices (rows/s): " + ", ".join(f"{n / t:.0f}" if t else "-" for n, t in done))
        if not all(s for _, s in done):
            return 0.0
        return stats.median(n / s for n, s in done)

    def phase_drain_and_open(self) -> None:
        """An untimed warm-up drain, then the open-loop windows alternate
        with the drain slices."""
        latencies: list[float] = []
        waited: list[float] = []
        late: list[float] = []

        def open_window(k: int) -> None:
            lat, waited_ms, late_ms = self.open_window(f"open{k}")
            log(f"open{k}: p50 {stats.percentile(lat, 50):.0f} ms, p95 {stats.percentile(lat, 95):.0f} ms")
            latencies.extend(lat)
            waited.append(waited_ms)
            late.append(late_ms)

        rows, seconds = self.timed_drain(f"drain{generator.WARM}", self.record)
        self.settle()
        log(f"warm-up drain {rows / seconds if seconds else 0:.0f} rows/s")
        self.out["drain_rows_per_s"] = self.drain_slices(self.record, self.slices, before=open_window)
        summary = stats.latency_summary(latencies)
        # a percentile that lands on a never-committed file reads as the
        # longest wait, which exceeds every latency that was measured
        for q in ("p50", "p95"):
            summary[q] = min(summary[q], max(waited))
        self.out["latency"] = summary
        self.out["generator_late_ms_max"] = max(late)

    def phase_restart(self) -> None:
        """Stop the query and restart it on the same checkpoint and metadata
        log, up to the commit of the new file queued behind redeliveries."""
        t_a = time.monotonic()
        self.query.stop()
        stop_s = time.monotonic() - t_a
        self.announce_now("restart")
        (new,) = self.phase_files("restart")
        t_c = time.monotonic()
        self.query = self.start_query(self.query_name, self.record)
        if not self.record.wait_for([new], PHASE_TIMEOUT_S):
            raise RuntimeError("the new file of the restart never committed")
        self.out["restart_s"] = stop_s + self.record.commit_times()[new] - t_c
        self.settle()

    def phase_curation(self) -> None:
        """Traced runs only: a short curation stream over the connector, with
        vacuum on the trigger cadence, then the incremental == frozen law."""
        record = SinkRecord()
        name = "curation"
        self.fresh_meta("cur")
        self.tracer.install_curation_wrappers()
        sent = self.announce_now("curation_setup", tag="cur")
        query = self.start_query(name, record, tag="cur", curation=True)
        self.tracer.curation_queries.add(str(query.id))
        try:
            if not record.wait_for(self.phase_files("curation_setup"), PHASE_TIMEOUT_S):
                raise RuntimeError("curation warm-up file never committed")
            docs, seconds = self.timed_drain("curation_drain", record, tag="cur")
            sent += self.read_announce_log("curation_drain", tag="cur")
            docs_per_s = docs / seconds if seconds else 0.0
            self.settle(query)
        finally:
            query.stop()
        check = stats.check_files(self._expected(sent), record.batches)
        law = self._curation_law(self.pipeline_dir(name))
        self.out["curation"] = {"docs_per_s": docs_per_s, "check": check, "law": law,
                                "pipeline": self.pipeline_dir(name)}

    def _curation_law(self, pipeline: str) -> bool:
        from spark_streaming_sql_s3_connector_spark.streaming.curation import (
            finalize_curation_frozen,
            read_curated_pack,
        )

        got = sorted(tuple(r) for r in read_curated_pack(self.spark, pipeline).collect())
        want = sorted(tuple(r) for r in finalize_curation_frozen(self.spark, pipeline).collect())
        return got == want and len(got) > 0

    def comparison_drains(self) -> dict:
        """After the traced session stopped, drain the first timed slice
        again untraced in the same JVM: first on ``local[<cores>]``, as the
        traced run drained it, then on ``local[1]``. Each drain has its own
        session, queue and metadata log, and is preceded by one warm-up
        file; the first also by the untimed warm-up drain. On one core a single Python worker serves every task and the
        warm-up file has started it, so the second skips that drain."""
        return {"untraced": self.comparison_drain(self.cores, "untraced", warm=True),
                "one_core": self.comparison_drain(1, "one", warm=False)}

    def comparison_drain(self, cores: int, tag: str, warm: bool) -> float:
        self.start_session(cores, traced=False)
        record = SinkRecord()
        self.fresh_meta(tag)
        self.announce_now("setup0", tag=tag)
        query = self.start_query(tag, record, tag=tag)
        try:
            if not record.wait_for(self.phase_files("setup0"), PHASE_TIMEOUT_S):
                raise RuntimeError(f"warm-up file of the {tag} drain never committed")
            if warm:
                self.timed_drain(f"drain{generator.WARM}", record, tag)
                self.settle(query)
            rows, seconds = self.timed_drain("drain0", record, tag)
            return rows / seconds if seconds else 0.0
        finally:
            query.stop()
            self.spark.stop()

    # -- checks

    def _expected(self, events) -> dict[int, dict]:
        """Every file that ``events`` announced as created, with its rows.
        Taken from what was sent, not from the plan: a traced run sets up
        once, so a later "redelivery" of a skipped set-up file is its first
        announcement."""
        expected: dict[int, dict] = {}
        for ev in events:
            if ev["event"] == "created":
                f = self.plan["files"][ev["file_id"]]
                expected[ev["file_id"]] = {k: f[k] for k in ("rows", "qty") if k in f}
        return expected

    def check(self) -> dict:
        """Every file announced as created in the main phases landed once
        with its rows; redeliveries and removals added nothing."""
        sent = [ev for events in self.announce_logs.values() for ev in events]
        return stats.check_files(self._expected(sent), self.record.batches)


def stop_jvm() -> None:
    """Stop the JVM that PySpark launched, and with it the Python workers it
    started, and wait for it to end: a stopped SparkSession leaves the
    gateway process running until this process exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits at end of its standard input
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[Run, dict]:
    cores = len(os.sched_getaffinity(0))
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    if args.trace:
        import tracing

        r.tracer = tracing.Tracer(r)
    gen_started = time.monotonic()
    r.generate()
    log("inputs written")
    t_session = time.monotonic()
    r.start_session(cores, traced=bool(args.trace))
    session_s = (gen_started - PROCESS_T0) + (time.monotonic() - t_session)
    log(f"session started in {session_s:.2f}s")
    try:
        r.phase_setup()
        r.out["setup_s"] = session_s + stats.median(r.out["stream_startup_s"])
        log(f"stream start-ups {r.out['stream_startup_s']}")
        r.phase_drain_and_open()
        log(f"drain {r.out['drain_rows_per_s']:.1f} rows/s, open loop {r.out['latency']}")
        r.phase_restart()
        log(f"restart {r.out['restart_s']:.2f}s")
        r.query.stop()
        check = r.check()
        log(f"check {check}")
        if args.trace:
            r.phase_curation()
            log(f"curation {r.out['curation']}")
    finally:
        if r.tracer is not None:
            r.tracer.before_stop()
        r.spark.stop()
    r.out["check"] = check
    if args.trace:
        r.out["comparison"] = r.comparison_drains()
        log(f"comparison drains {r.out['comparison']}")
    return r, check


def end_to_end(out: dict) -> dict:
    m = {
        "setup_s": (out["setup_s"], "s"),
        "drain_rows_per_s": (out["drain_rows_per_s"], "rows/s"),
        "latency_p50_ms": (out["latency"]["p50"], "ms"),
        "latency_p95_ms": (out["latency"]["p95"], "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Streaming-ingest benchmark for format('s3-connector').")
    ap.add_argument("--workload", required=True, choices=sorted(generator.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "spark_streaming_sql_s3_connector_spark")):
        print("perfbench: run it from the repository root (package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = repo + os.pathsep + os.environ.get("PYTHONPATH", "")
    work = os.path.join(repo, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        r, check = run(args, work)
        metrics = r.tracer.metrics() if args.trace else end_to_end(r.out)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    correct = check["failed"] == 0
    failed, attempted = check["failed"], check["attempted"]
    if args.trace:
        cur = r.out["curation"]
        correct = correct and cur["check"]["failed"] == 0 and cur["law"]
        attempted += cur["check"]["attempted"]
        failed += cur["check"]["attempted"] if not cur["law"] else cur["check"]["failed"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
