"""The traced run: per-layer metrics, all taken from outside the program.

Sources, by layer:

- Spark's per-trigger progress (``durationMs``), collected by the public
  ``streaming.metrics.ConnectorQueryListener`` (``recentProgress`` keeps
  only 100 triggers);
- the Spark event log of the traced session: jobs, stages and tasks per
  trigger and the Python Data Source scan metrics;
- wrappers on the public curation functions, which run in the driver
  (``foreachBatch``);
- probes in this process: serial ``iter_record_batches`` over the
  workload's files (decode without the boundary), an admission replay of
  the run's message set through an ``AdmissionController`` with wrappers on
  its public collaborators (admission itself runs in Spark's Python
  streaming-source runner, where no wrapper can see it), and recovery of
  the final metadata log;
- comparison drains of the same backlog in fresh untraced sessions on
  ``local[1]`` and ``local[<cores>]``;
- a /proc sampler of the whole process tree and a queue-depth sampler.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

import stats

# The Python Data Source scan's SQL metric that marks a scan stage. Its byte
# and time metrics are not used: Spark 4.1 reports them cumulatively per
# reused Python worker, so they cannot be attributed to a trigger.
PY_SENT = "data sent to Python workers"


class Spans:
    """Named (start, end) spans on the monotonic clock, and named counts."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.spans: dict[str, list[tuple[float, float]]] = {}
        self.counts: dict[str, int] = {}

    def add(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.setdefault(name, []).append((t0, t1))

    def wrap(self, name: str, fn, count=None):
        """``fn`` with a span around each call; ``count(*args)`` adds to the
        count of the same name."""

        def wrapped(*a, **kw):
            t0 = time.monotonic()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, t0, time.monotonic())
                if count is not None:
                    with self._lock:
                        self.counts[name] = self.counts.get(name, 0) + count(*a)

        return wrapped

    def total_s(self, name: str) -> float:
        return sum(b - a for a, b in self.spans.get(name, []))

    def durations_ms(self, name: str) -> list[float]:
        return [(b - a) * 1000.0 for a, b in self.spans.get(name, [])]


def _p50(values: list[float]) -> float:
    return stats.median(values) if values else 0.0


class TreeSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.25) -> None:
        super().__init__(daemon=True, name="perfbench-rss")
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


class BacklogSampler(threading.Thread):
    """Queue depth through ``LocalFileQueueClient.approximate_number_of_messages``."""

    def __init__(self, queue_dir: str, interval_s: float = 0.05) -> None:
        super().__init__(daemon=True, name="perfbench-backlog")
        from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

        self.queue = LocalFileQueueClient(f"local://{queue_dir}")
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            try:
                self.samples.append(self.queue.approximate_number_of_messages())
            except OSError:
                pass  # a message renamed between listdir and count
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


# ---------------------------------------------------------------- event log


def parse_event_log(path: str) -> dict:
    """Jobs (with their streaming batch and stages), stages (with their task
    count and whether they scan the Python Data Source) and task times from
    one Spark event log file."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "batch": (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId")),
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue  # skipped stage
                names = {a.get("Name") for a in info.get("Accumulables", [])}
                stages[info["Stage ID"]] = {
                    "tasks": info.get("Number of Tasks", 0),
                    # a stage that reads through the Python Data Source
                    "scan": PY_SENT in names,
                }
            elif kind == "SparkListenerTaskEnd":
                ti = ev.get("Task Info", {})
                tasks.append({
                    "stage": ev.get("Stage ID"),
                    "launch_ms": ti.get("Launch Time"),
                    "finish_ms": ti.get("Finish Time"),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------- tracer


class Tracer:
    def __init__(self, run) -> None:
        self.run = run
        self.eventlog_dir = os.path.join(run.work, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        self.spans = Spans()
        # (start, end) of each drain slice, wall-clock seconds as in the event log
        self.drain_windows: list[tuple[float, float]] = []
        self.listener = None
        self.rss = TreeSampler()
        self.backlog: BacklogSampler | None = None
        self.backlog_samples: list[int] = []
        self.curation_queries: set[str] = set()

    # -- hooks the run calls

    def configure(self, builder):
        return (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", self.eventlog_dir)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )

    def attach(self, spark) -> None:
        from spark_streaming_sql_s3_connector_spark.streaming.metrics import ConnectorQueryListener

        self.listener = ConnectorQueryListener()
        spark.streams.addListener(self.listener)
        self.rss.start()

    def watch_backlog(self, queue_dir: str) -> None:
        self.backlog = BacklogSampler(queue_dir)
        self.backlog.start()

    def stop_backlog(self) -> None:
        if self.backlog is not None:
            self.backlog.stop()
            self.backlog_samples += self.backlog.samples
            self.backlog = None

    def install_curation_wrappers(self) -> None:
        """Spans around the public curation functions. Each is looked up by
        module attribute at call time, so replacing the attribute is seen."""
        from spark_streaming_sql_s3_connector_spark.streaming import (
            curation,
            exact_dedup,
            vacuum,
        )

        for mod, name, span in (
            (curation, "process_curation_batch_incremental", "trigger"),
            (curation, "process_curation_batch", "screens"),
            (curation, "finalize_curation_batch", "finalize"),
            (curation, "compact_curation_outputs", "compact"),
            (exact_dedup, "flush_bitmap_updates", "bitmap_flush"),
            (vacuum, "vacuum", "vacuum"),
        ):
            setattr(mod, name, self.spans.wrap(span, getattr(mod, name)))

    def before_stop(self) -> None:
        self.stop_backlog()
        self.rss.stop()

    # -- metrics after the traced session stopped

    def metrics(self) -> dict:
        r = self.run
        m: dict[str, tuple[float, str]] = {}
        progress = [p for p in self.listener.progress
                    if p["numInputRows"] > 0 and p["id"] not in self.curation_queries]
        dur = [p["durationMs"] for p in progress]

        def col(key: str) -> list[float]:
            return [float(d.get(key, 0)) for d in dur]

        trig = sum(col("triggerExecution")) or 1.0
        m["datasource.add_batch_ms_p50"] = (_p50(col("addBatch")), "ms")
        m["datasource.add_batch_share"] = (sum(col("addBatch")) / trig, "ratio")
        m["admission.latest_offset_ms_p50"] = (_p50(col("latestOffset")), "ms")
        m["admission.latest_offset_share"] = (sum(col("latestOffset")) / trig, "ratio")
        m["spark.wal_commit_ms_p50"] = (_p50(col("walCommit")), "ms")
        m["spark.commit_offsets_ms_p50"] = (_p50(col("commitOffsets")), "ms")
        m["spark.query_planning_ms_p50"] = (_p50(col("queryPlanning")), "ms")
        m["spark.triggers"] = (float(len(progress)), "count")
        files_per = [len(b["files"]) for b in r.record.batches.values() if b["files"]]
        m["spark.files_per_trigger_p50"] = (_p50(files_per), "count")
        m.update(self._event_log_metrics())
        m.update(self._curation_metrics())
        m.update(self._admission_metrics())
        m.update(decode_probe(r))
        m.update(replay_probe(r))
        m.update(self._comparison_drains())
        m["queueing.backlog_max"] = (float(max(self.backlog_samples, default=0)), "count")
        m["queueing.backlog_end"] = (float(self.backlog_samples[-1] if self.backlog_samples else 0), "count")
        m["generator.late_ms_max"] = (r.out.get("generator_late_ms_max", 0.0), "ms")
        m["generator.files_announced"] = (float(sum(len(v) for v in r.announce_logs.values())), "count")
        m["process.peak_rss_mb"] = (self.rss.peak_bytes / 2**20, "MB")
        m["check.failed_file_ratio"] = (r.out["check"]["failed_file_ratio"], "ratio")
        return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}

    def _event_log_metrics(self) -> dict:
        (path,) = [f for f in glob.glob(os.path.join(self.eventlog_dir, "*"))
                   if os.path.isfile(f) and not f.endswith(".crc")]
        ev = parse_event_log(path)
        m: dict[str, tuple[float, str]] = {}
        batches: dict[tuple, list[int]] = {}
        for jid, job in ev["jobs"].items():
            if job["batch"][1] is not None:
                batches.setdefault(job["batch"], []).append(jid)
        main = [jobs for key, jobs in batches.items() if key[0] not in self.curation_queries]
        n_main = max(1, len(main))
        m["spark.jobs_per_trigger"] = (sum(len(j) for j in main) / n_main, "count")
        stage_count = sum(len(ev["jobs"][j]["stages"]) for js in main for j in js)
        m["spark.stages_per_trigger"] = (stage_count / n_main, "count")
        main_stages = {sid for js in main for j in js for sid in ev["jobs"][j]["stages"]}
        scans = {sid for sid in main_stages if ev["stages"].get(sid, {}).get("scan")}
        scan_ms = sum(t["finish_ms"] - t["launch_ms"] for t in ev["tasks"]
                      if t["stage"] in scans and t["finish_ms"] and t["launch_ms"])
        m["datasource.scan_task_ms_per_trigger"] = (scan_ms / n_main, "ms")
        m["datasource.tasks_per_trigger"] = (
            sum(ev["stages"][sid]["tasks"] for sid in scans) / n_main, "count")
        cur = [jobs for key, jobs in batches.items() if key[0] in self.curation_queries]
        m["curation.jobs_per_trigger"] = (
            sum(len(j) for j in cur) / max(1, len(cur)), "count")
        # core busy ratio over the drain slices (wall-clock ms in the log)
        busy = wall = 0.0
        for w0, w1 in self.drain_windows:
            t0, t1 = w0 * 1000.0, w1 * 1000.0
            wall += t1 - t0
            for t in ev["tasks"]:
                if t["launch_ms"] and t["finish_ms"]:
                    busy += max(0.0, min(t["finish_ms"], t1) - max(t["launch_ms"], t0))
        m["spark.core_busy_ratio"] = (busy / max(1.0, wall * self.run.cores), "ratio")
        return m

    def _curation_metrics(self) -> dict:
        s = self.spans
        trig = s.spans.get("trigger", [])
        children = [iv for name in ("screens", "finalize", "bitmap_flush", "vacuum", "compact")
                    for iv in s.spans.get(name, [])]
        flush_exposed = [
            stats.self_time([iv], s.spans.get("finalize", [])) * 1000.0
            for iv in s.spans.get("bitmap_flush", [])
        ]
        c = self.run.out["curation"]
        size, count = tree_bytes(c["pipeline"])
        return {
            "curation.trigger_ms_p50": (_p50(s.durations_ms("trigger")), "ms"),
            "curation.trigger_ms_max": (max(s.durations_ms("trigger"), default=0.0), "ms"),
            "curation.trigger_self_ms_p50": (
                _p50([stats.self_time([iv], children) * 1000.0 for iv in trig]), "ms"),
            "curation.screens_ms_p50": (_p50(s.durations_ms("screens")), "ms"),
            "curation.finalize_ms_p50": (_p50(s.durations_ms("finalize")), "ms"),
            "curation.bitmap_flush_ms_p50": (_p50(s.durations_ms("bitmap_flush")), "ms"),
            "curation.bitmap_flush_exposed_ms_p50": (_p50(flush_exposed), "ms"),
            "curation.vacuum_ms_p50": (_p50(s.durations_ms("vacuum")), "ms"),
            "curation.compact_ms_p50": (_p50(s.durations_ms("compact")), "ms"),
            "curation.docs_per_s": (c["docs_per_s"], "docs/s"),
            "curation.state_bytes": (float(size), "B"),
            "curation.state_files": (float(count), "count"),
        }

    def _admission_metrics(self) -> dict:
        """Recovery of the final metadata log, its size, and how many of
        the notifications sent became log entries."""
        from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

        r = self.run
        log_dir = os.path.join(r.root, "meta", "s3conn-log")
        t = time.monotonic()
        log = JsonMetadataLog(log_dir)
        recover_s = time.monotonic() - t
        prior = r.spec.get("prior_log_entries", 0) // max(1, r.spec.get("prior_log_batch", 1))
        latest = log.get_latest_batch_id()
        admitted = len(log.get_range(prior, latest)) if latest is not None else 0
        sent = sum(len(v) for v in r.announce_logs.values())
        return {
            "state.log_recover_s": (recover_s, "s"),
            "state.restart_s": (r.out["restart_s"], "s"),
            "state.log_bytes": (float(tree_bytes(log_dir)[0]), "B"),
            "admission.admitted_ratio": (admitted / max(1, sent), "ratio"),
        }

    def _comparison_drains(self) -> dict:
        cmp = self.run.out["comparison"]
        rows, seconds = self.run.out["drain_slices"][0]
        traced = rows / seconds if seconds else 0.0
        # the first timed drain slice, traced here and untraced after the
        # traced session; a drain that never finished reads 0 rows/s and its
        # ratios read 0 too
        return {
            "spark.speedup_vs_1core": (
                cmp["untraced"] / cmp["one_core"] if cmp["one_core"] else 0.0, "ratio"),
            "trace.overhead_ratio": (traced / cmp["untraced"] if cmp["untraced"] else 0.0, "ratio"),
        }


def tree_bytes(path: str) -> tuple[int, int]:
    """Total size and number of the files under ``path``."""
    size = count = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(dirpath, f))
            count += 1
    return size, count


# ---------------------------------------------------------------- probes


def decode_probe(r, max_files: int = 256) -> dict:
    """Serial ``iter_record_batches`` over the drain backlog's files in this
    process: the decode cost without the Python-to-JVM boundary."""
    from spark_streaming_sql_s3_connector_spark.sources.file_read import iter_record_batches

    import generator

    schema = r.lineitem_schema
    files = [f for k in range(generator.SLICES) for f in r.phase_files(f"drain{k}")][:max_files]
    paths = [(generator.file_path(r.root, r.plan, f), 0) for f in files]
    opts = r.source_options()
    t = time.monotonic()
    rows = arrow_bytes = 0
    for p in paths:
        for rb in iter_record_batches([p], "parquet", schema, {}, ["file_id"], opts["basePath"]):
            rows += rb.num_rows
            arrow_bytes += rb.nbytes
    elapsed = time.monotonic() - t
    return {
        "file_read.decode_rows_per_s": (rows / elapsed, "rows/s"),
        "file_read.decode_ms_per_file": (elapsed * 1000.0 / len(paths), "ms"),
        # the Arrow payload each row carries across the Python-to-JVM boundary
        "datasource.arrow_bytes_per_row": (arrow_bytes / max(1, rows), "B"),
    }


def replay_probe(r) -> dict:
    """Replay the run's whole message set through an ``AdmissionController``
    in this process, over a fresh queue and a copy of the starting metadata
    log, timing its public collaborators."""
    from spark_streaming_sql_s3_connector_spark.options import S3ConnectorSourceOptions
    from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient
    from spark_streaming_sql_s3_connector_spark.sources.admission import AdmissionController
    from spark_streaming_sql_s3_connector_spark.sources.datasource import S3ConnectorStreamReader

    import generator

    probe = os.path.join(r.work, "probe")
    meta = os.path.join(probe, "meta")
    prior = os.path.join(r.root, "prior-log")
    if os.path.isdir(prior):
        shutil.copytree(prior, meta)
    queue_url = f"local://{os.path.join(probe, 'queue')}"
    sender = LocalFileQueueClient(queue_url)
    for phase, events in r.plan["phases"].items():
        if phase not in r.announce_logs:
            continue
        for ev in events:
            sender.send_file_event(
                generator.file_path(r.root, r.plan, ev["file_id"]), int(time.time() * 1000),
                event_name="ObjectRemoved:Delete" if ev["event"] == "removed" else "ObjectCreated:Put",
            )
    raw = dict(r.source_options(), **{"spark.s3conn.queueUrl": queue_url,
                                      "spark.s3conn.metadataPath": meta})
    options = S3ConnectorSourceOptions.parse(raw)
    spans = Spans()
    queue = LocalFileQueueClient(queue_url)
    queue.fetch = spans.wrap("fetch", queue.fetch)
    queue.delete_messages = spans.wrap("ack", queue.delete_messages, count=len)
    ctl = AdmissionController(options, meta, queue_client=queue)
    ctl.validator.is_valid_new_file = spans.wrap("validate", ctl.validator.is_valid_new_file)
    ctl.metadata_log.add = spans.wrap("log_add", ctl.metadata_log.add)
    reader = S3ConnectorStreamReader(r.lineitem_schema, raw)
    reader._admission = ctl  # the stream reader's driver side, built here
    partitions = spans.wrap("partitions", reader.partitions)
    prev = ctl.current_offset
    idle = 0
    try:
        # one trigger per turn until three turns in a row admit nothing;
        # redeliveries parked in flight (visibility timeout) stay there
        while idle < 3:
            off = ctl.fetch_max_offset()
            if off > prev:
                partitions({"logOffset": prev}, {"logOffset": off})
                ctl.commit(off)
                prev, idle = off, 0
            else:
                idle += 1
    finally:
        ctl.close()
    validate = spans.spans.get("validate", [])
    # fetch self time: the consumer callback (validation) runs inside fetch
    fetch_self = stats.self_time(spans.spans.get("fetch", []), validate)
    return {
        "queueing.fetch_us_per_msg": (
            fetch_self * 1e6 / max(1, queue.metrics.received_messages), "us"),
        "queueing.ack_us_per_msg": (
            spans.total_s("ack") * 1e6 / max(1, spans.counts.get("ack", 0)), "us"),
        "state.validate_us_per_msg": (spans.total_s("validate") * 1e6 / max(1, len(validate)), "us"),
        "state.log_add_ms_p50": (_p50(spans.durations_ms("log_add")), "ms"),
        "state.log_add_ms_max": (max(spans.durations_ms("log_add"), default=0.0), "ms"),
        "datasource.partitions_ms": (_p50(spans.durations_ms("partitions")), "ms"),
    }
