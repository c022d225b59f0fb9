"""Input generator for the streaming-ingest benchmark.

Runs as its own single-threaded process, in two modes:

    python3 perfbench/generator.py write --workload W --seed N --seconds S --root DIR
    python3 perfbench/generator.py announce --root DIR --phase P --t0 T

``write`` derives every input from the seed: the files themselves (one per
Hive-style ``file_id=<n>/`` directory, so the sink maps rows to files through
``spark.s3conn.partitionColumns``), the announcement schedule of every phase
and the rows each file must contribute. It writes them all, plus
``plan.json``, before any timing starts.

``announce`` replays one phase of the plan through the public
``LocalFileQueueClient.send_file_event``: it waits until the phase's start
``t0`` (a ``time.monotonic()`` reading, which is system-wide on Linux), sends
each event when it is due (a backlog, all due at once, goes into the live
queue in one burst), and logs the due time and the send time of every
announcement to ``announce-<phase>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every workload's sizes. ``open_rate`` is about half of the drain rate the
# connector reaches on a 4-core host, so the open loop runs below saturation.
WORKLOADS = {
    "bulk_files": {
        "rows_per_file": 3_750,
        "setups": 3,
        "backlog": 240,
        "open_rate": 20.0,
        "min_open": 200,
        "max_files_per_trigger": 32,
        "restart_redeliveries": 50,
    },
    "small_files": {
        "rows_per_file": 200,
        "setups": 3,
        "backlog": 1050,
        "open_rate": 50.0,
        "min_open": 200,
        "max_files_per_trigger": 250,
        "redelivery_ratio": 0.10,
        "removed_ratio": 0.01,
        "prior_log_entries": 100_000,
        "prior_log_batch": 1000,
        "restart_redeliveries": 300,
    },
}

# The curation phase of a traced run: range-ordered JSON-lines documents, one
# file per trigger, through ``streaming_curation_incremental``. Vacuum runs on
# every trigger after the first, so the timed drain is one vacuum trigger.
CURATION = {
    "docs_per_file": 100,
    "backlog": 1,
    "vacuum_every": 1,
    "max_files_per_trigger": 1,
}

LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query a big key window row table stream merge data the "
    "vector join customer"
).split()
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
SHIP_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIP_MODE = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
POOL_ROWS = 1 << 16
SLICES = 3
WARM = "_warm"  # the phase suffix of the warm-up slice
VARIANTS = 32


# ---------------------------------------------------------------- schedule


def poisson_offsets(rng: random.Random, rate: float, count: int) -> list[float]:
    """``count`` arrival offsets (seconds from the phase start) of a Poisson
    process with the given rate: cumulative exponential gaps."""
    t = 0.0
    out = []
    for _ in range(count):
        t += rng.expovariate(rate)
        out.append(round(t, 6))
    return out


def make_plan(workload: str, seed: int, seconds: float) -> dict:
    """The whole run's inputs as data: files with their row counts and the
    announcements of every phase. Pure function of (workload, seed, seconds)."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    files: list[dict] = []

    def new_file(fmt: str = "parquet") -> int:
        fid = len(files)
        rows = spec["rows_per_file"] if fmt == "parquet" else CURATION["docs_per_file"]
        files.append({"file_id": fid, "rows": rows, "format": fmt})
        return fid

    def created(fid: int, due: float = 0.0) -> dict:
        return {"file_id": fid, "event": "created", "due": due}

    phases: dict[str, list[dict]] = {}
    for k in range(spec["setups"]):
        phases[f"setup{k}"] = [created(new_file())]
    # an untimed warm-up drain slice goes first, so the timed phases find
    # every Python worker started and the JVM warm; then an open loop of
    # ``seconds`` and the backlog in SLICES interleaved parts, so that each
    # metric samples the host's speed across the whole run. Each drain slice
    # follows an open-loop window: a drain straight after the warm-up drain
    # ran 10-25% slower than the later ones.
    phases[f"drain{WARM}"] = [created(new_file()) for _ in range(spec["backlog"] // SLICES)]
    per_window = -(-max(spec["min_open"], round(spec["open_rate"] * seconds)) // SLICES)
    for k in range(SLICES):
        offsets = poisson_offsets(rng, spec["open_rate"], per_window)
        events = [created(new_file(), due) for due in offsets]
        if "redelivery_ratio" in spec:
            earlier = [e for p in phases.values() for e in p if e["event"] == "created"]
            events = _add_noise(rng, spec, events, earlier)
        phases[f"open{k}"] = events
        phases[f"drain{k}"] = [created(new_file()) for _ in range(spec["backlog"] // SLICES)]
    announced = sorted({e["file_id"] for p in phases.values() for e in p})
    # the restart re-announces old files; the new file goes last, so its
    # commit proves every redelivery ahead of it in the queue was screened
    phases["restart"] = [created(fid) for fid in rng.sample(announced, spec["restart_redeliveries"])]
    phases["restart"].append(created(new_file()))
    phases["curation_setup"] = [created(new_file("json"))]
    phases["curation_drain"] = [created(new_file("json")) for _ in range(CURATION["backlog"])]
    # one redelivery of an already-announced document file
    phases["curation_drain"].append(created(phases["curation_drain"][0]["file_id"]))
    return {"workload": workload, "seed": seed, "seconds": seconds, "spec": spec,
            "files": files, "phases": phases}


def new_files(plan: dict, phase: str) -> list[int]:
    """Files first announced (as created) in ``phase``, in announcement
    order; later announcements of a file are redeliveries."""
    seen: set[int] = set()
    for name, events in plan["phases"].items():
        fresh = [e["file_id"] for e in events if e["event"] == "created" and e["file_id"] not in seen]
        if name == phase:
            return list(dict.fromkeys(fresh))
        seen.update(e["file_id"] for e in events if e["event"] == "created")
    raise KeyError(phase)


def _add_noise(rng, spec, events: list[dict], earlier: list[dict]) -> list[dict]:
    """Mix redeliveries (at-least-once S3→SQS) and ObjectRemoved events into
    an open-loop window. Each is due within 0.5 s of one of the window's
    own announcements, so it lands inside the window; half name that file,
    half a file announced earlier in the run."""
    pool = [e["file_id"] for e in earlier]
    out = list(events)
    n_redeliver = int(round(spec["redelivery_ratio"] * len(events)))
    n_removed = max(1, int(round(spec["removed_ratio"] * len(events))))
    for i in range(n_redeliver + n_removed):
        src = rng.choice(events)
        fid = src["file_id"] if rng.random() < 0.5 or not pool else rng.choice(pool)
        out.append({
            "file_id": fid,
            "event": "created" if i < n_redeliver else "removed",
            "due": round(src["due"] + rng.uniform(0.0, 0.5), 6),
        })
    out.sort(key=lambda e: (e["due"], e["file_id"]))
    return out


# ---------------------------------------------------------------- file contents


def file_path(root: str, plan: dict, fid: int) -> str:
    return os.path.join(root, "data", f"file_id={fid}", f"part-0.{plan['files'][fid]['format']}")


def lineitem_table(rng, n: int, comments: list[str]):
    """A TPC-H lineitem-shaped Arrow table with all 16 columns, drawn from a
    seeded ``numpy.random.Generator``."""
    import numpy as np
    import pyarrow as pa

    def pick(values: list[str]):
        return pa.DictionaryArray.from_arrays(
            pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
        ).cast(pa.string())

    ship = rng.integers(8035, 8035 + 2500, n).astype(np.int32)  # 1992-01-01 onwards
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, 6_000_000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 200_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 10_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pick(RETURN_FLAGS),
        "l_linestatus": pick(LINE_STATUS),
        "l_shipdate": pa.array(ship, pa.date32()),
        "l_commitdate": pa.array(ship + rng.integers(-30, 60, n).astype(np.int32), pa.date32()),
        "l_receiptdate": pa.array(ship + rng.integers(1, 31, n).astype(np.int32), pa.date32()),
        "l_shipinstruct": pick(SHIP_INSTRUCT),
        "l_shipmode": pick(SHIP_MODE),
        "l_comment": pick(comments),
    })


def document_lines(rng: random.Random, fid: int, n: int, shared: list[str]) -> list[str]:
    """JSON-lines documents: ids are range-ordered by file (the order the
    incremental curation law assumes), lines repeat across and within
    documents so both dedup screens do work, and a few texts are empty."""
    out = []
    for i in range(n):
        doc_id = fid * 100_000 + i
        lines = [" ".join(rng.choices(VOCAB, k=rng.randrange(8, 40))) for _ in range(rng.randrange(1, 5))]
        if rng.random() < 0.3:
            lines.append(rng.choice(shared))
        if rng.random() < 0.05:
            lines.append(lines[0])
        text = "" if rng.random() < 0.01 else "\n".join(lines)
        lang = None if rng.random() < 0.01 else rng.choice(LANGS)
        out.append(json.dumps({"doc_id": doc_id, "lang": lang, "text": text}))
    return out


def write_files(root: str, plan: dict) -> None:
    """Write every input file. Parquet inputs are copies of a few seeded
    variants (each a window of one seeded row pool): the connector reads
    every file on its own, so distinct contents per file would only make
    generation slower."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    seed = plan["seed"]
    text_rng = random.Random(f"text:{seed}")
    shared = [" ".join(text_rng.choices(VOCAB, k=12)) for _ in range(20)]
    comments = [" ".join(text_rng.choices(VOCAB, k=text_rng.randrange(3, 8))) for _ in range(512)]
    rows = plan["spec"]["rows_per_file"]
    pool = lineitem_table(np.random.default_rng([seed, 0]), POOL_ROWS, comments)
    offsets = random.Random(f"offsets:{seed}")
    os.makedirs(os.path.join(root, "variants"), exist_ok=True)
    variants = []
    for v in range(VARIANTS):
        t = pool.slice(offsets.randrange(0, POOL_ROWS - rows), rows)
        path = os.path.join(root, "variants", f"v{v}.parquet")
        pq.write_table(t, path)
        variants.append((path, pc.sum(t["l_quantity"]).as_py()))
    pick = random.Random(f"pick:{seed}")
    for f in plan["files"]:
        fid = f["file_id"]
        path = file_path(root, plan, fid)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if f["format"] == "parquet":
            src, f["qty"] = variants[pick.randrange(VARIANTS)]
            shutil.copyfile(src, path)
        else:
            rng = random.Random(f"{plan['workload']}:{seed}:file:{fid}")
            with open(path, "w") as fh:
                fh.write("\n".join(document_lines(rng, fid, f["rows"], shared)) + "\n")
    if "prior_log_entries" in plan["spec"]:
        write_prior_log(root, plan)


def write_prior_log(root: str, plan: dict) -> None:
    """A metadata log that already holds a long-running stream's history,
    written through the public ``JsonMetadataLog.add``. The paths are of
    files that no longer exist, so they only weigh on admission state."""
    sys.path.insert(0, REPO_ROOT)
    from spark_streaming_sql_s3_connector_spark.models import FileEntry
    from spark_streaming_sql_s3_connector_spark.state.metadata_log import JsonMetadataLog

    spec = plan["spec"]
    log = JsonMetadataLog(os.path.join(root, "prior-log", "s3conn-log"))
    now = int(time.time() * 1000)
    per = spec["prior_log_batch"]
    for b in range(spec["prior_log_entries"] // per):
        entries = [
            FileEntry(path=os.path.join(root, "history", f"b{b}", f"f{i}.parquet"),
                      timestamp=now, batch_id=b)
            for i in range(per)
        ]
        log.add(b, entries, timestamp=now)
    log.close()


# ---------------------------------------------------------------- announce


def announce(root: str, phase: str, t0: float, tag: str = "") -> None:
    sys.path.insert(0, REPO_ROOT)
    from spark_streaming_sql_s3_connector_spark.queueing.local import LocalFileQueueClient

    with open(os.path.join(root, "plan.json")) as fh:
        plan = json.load(fh)
    events = plan["phases"][phase]
    live = queue_dir(root, tag)
    queue = LocalFileQueueClient(f"local://{live}")
    log = []

    def send(client, ev) -> None:
        client.send_file_event(
            file_path(root, plan, ev["file_id"]),
            int(time.time() * 1000),
            event_name="ObjectRemoved:Delete" if ev["event"] == "removed" else "ObjectCreated:Put",
        )

    if all(ev["due"] == 0 for ev in events):
        # a backlog: sent into a staging queue first, then moved into the
        # live one in one burst, as a queue delivers a batch of
        # notifications. Sent one by one, a backlog takes 50-200 ms on a
        # busy host, and a trigger that starts inside that window takes a
        # part of it, which splits the drain into a varying number of
        # triggers.
        stage = live + "-stage"
        shutil.rmtree(stage, ignore_errors=True)
        staging = LocalFileQueueClient(f"local://{stage}")
        for ev in events:
            send(staging, ev)
        time.sleep(max(0.0, t0 - time.monotonic()))
        names = sorted(os.listdir(stage))  # message ids sort in send order
        for ev, name in zip(events, names):
            sent = time.monotonic()
            os.rename(os.path.join(stage, name), os.path.join(live, name))
            log.append({"file_id": ev["file_id"], "event": ev["event"], "due": t0, "sent": sent})
    else:
        for ev in events:
            due = t0 + ev["due"]
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            sent = time.monotonic()
            send(queue, ev)
            log.append({"file_id": ev["file_id"], "event": ev["event"], "due": due, "sent": sent})
    with open(announce_log_path(root, phase, tag), "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in log) + "\n")


def queue_dir(root: str, tag: str = "") -> str:
    return os.path.join(root, f"queue-{tag}" if tag else "queue")


def announce_log_path(root: str, phase: str, tag: str = "") -> str:
    return os.path.join(root, f"announce-{phase}{'-' + tag if tag else ''}.jsonl")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    w = sub.add_parser("write")
    w.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    w.add_argument("--seed", type=int, required=True)
    w.add_argument("--seconds", type=float, required=True)
    w.add_argument("--root", required=True)
    a = sub.add_parser("announce")
    a.add_argument("--root", required=True)
    a.add_argument("--phase", required=True)
    a.add_argument("--t0", type=float, required=True)
    a.add_argument("--tag", default="", help="announce into queue-<tag> instead of queue")
    args = ap.parse_args(argv)
    if args.mode == "write":
        plan = make_plan(args.workload, args.seed, args.seconds)
        os.makedirs(args.root, exist_ok=True)
        write_files(args.root, plan)
        with open(os.path.join(args.root, "plan.json"), "w") as fh:
            json.dump(plan, fh)
    else:
        announce(args.root, args.phase, args.t0, args.tag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
