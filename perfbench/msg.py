"""The message half of the `stream` workload: the composed app
(`streaming.app.run_app`) over a file bus, fed by an open-loop generator
in this process.

Updates are due at a fixed rate, FILE_ROWS per PERIOD_S; every PERIOD_S
seconds for the run's --seconds the updates that fell due since the last
file are written as one file, on a schedule that does not slow when the
app does. Latency runs from an update's due time to its delivery in a
branch sink, so it includes the wait for its file.
"""

from __future__ import annotations

import os
import re
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.harness import Run
from perfbench.stats import median

FILE_ROWS = 200
PERIOD_S = 4.0  # offered rate 50 updates/s: a trigger takes 2-3.5 s on 4 cores
WARM_FIRST_ID = 10_000_000  # warm-up update ids never collide with measured ones
BRANCHES = ("chat", "task", "command")
PHASES = ("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets")
BACKLOG_PERIOD_S = 0.1


class Bus:
    """A file bus: files are written to a staging dir, then renamed in."""

    def __init__(self, root: str, schema: pa.Schema):
        self.dir, self.stage = os.path.join(root, "bus"), os.path.join(root, "stage")
        os.makedirs(self.dir)
        os.makedirs(self.stage)
        self.schema = schema
        self.n = 0
        self.rows: list[dict] = []

    def publish(self, rows: list[dict]) -> float:
        name = f"part-{self.n:05d}.parquet"
        self.n += 1
        staged = os.path.join(self.stage, name)
        pq.write_table(pa.Table.from_pylist(rows, schema=self.schema), staged)
        os.rename(staged, os.path.join(self.dir, name))
        self.rows.extend(rows)
        return time.perf_counter()


class Sinks:
    """Branch callbacks: record (update_id, chunk_idx) and delivery time."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lock = threading.Lock()
        self.rows: dict[str, list[tuple[int, int]]] = {b: [] for b in BRANCHES}
        self.at: dict[int, float] = {}

    def callback(self, branch: str):
        cols = ["update_id", "chunk_idx"] if branch == "chat" else ["update_id"]

        def deliver(batch_df, epoch_id):
            with self.tracer.span("deliver", request=f"{branch}:{epoch_id}"):
                got = [(r[0], r[1] if len(r) > 1 else 0) for r in batch_df.select(*cols).collect()]
                now = time.perf_counter()
                with self.lock:
                    self.rows[branch].extend(got)
                    for uid, _ in got:
                        self.at[uid] = max(self.at.get(uid, 0.0), now)

        return deliver


def start(r: Run):
    """Start the app on a bus holding one warm-up file; return once every
    branch has processed it."""
    from open_pulsar_spark.sources.bus import BusConfig, read_bus
    from open_pulsar_spark.streaming.app import run_app
    from open_pulsar_spark.streaming.router import UPDATE_SCHEMA
    from pyspark.sql.pandas.types import to_arrow_schema

    root = r.path("app")
    bus = Bus(root, to_arrow_schema(UPDATE_SCHEMA))
    sinks = Sinks(r.tracer)
    bus.publish(gen.UpdateGenerator(r.seed + 1, first_id=WARM_FIRST_ID).rows(FILE_ROWS))
    updates = read_bus(r.spark, BusConfig(uri=f"file://{bus.dir}", schema=UPDATE_SCHEMA))
    app = run_app(
        r.spark, updates, os.path.join(root, "ckpt"), sinks.callback("chat"),
        handle_task=sinks.callback("task"), handle_command=sinks.callback("command"),
        allowed_ids=set(gen.ALLOWED_IDS), heartbeat_emit=None,
    )
    app.process_all_available()
    return app, bus, sinks


def measure(r: Run, app, bus: Bus, sinks: Sinks) -> float:
    """Offer files at the fixed rate; stop the app, check its output and
    return the time from the first offer to the last delivery."""
    warm_batches = {name: q.lastProgress["batchId"] for name, q in app.queries.items()}
    source = gen.UpdateGenerator(r.seed)

    # Updates are due at an even 50/s; file k carries the FILE_ROWS updates
    # due in the PERIOD_S before its own due time t_start + k * PERIOD_S.
    n_files = int(r.seconds // PERIOD_S) + 1
    step = PERIOD_S / FILE_ROWS
    due: dict[int, float] = {}
    late: list[float] = []
    backlog = _BacklogSampler(app, bus) if r.traced else None
    t_start = time.perf_counter()
    for k in range(n_files):
        file_due = t_start + k * PERIOD_S
        time.sleep(max(0.0, file_due - time.perf_counter()))
        rows = source.rows(FILE_ROWS)
        with r.tracer.span("gen_write", request=f"file-{k}"):
            landed = bus.publish(rows)
        late.append(landed - file_due)
        first = file_due - PERIOD_S
        due.update((row["update_id"], first + (i + 1) * step) for i, row in enumerate(rows))
    app.process_all_available()
    if backlog:
        backlog.stop()

    with sinks.lock:
        at = dict(sinks.at)
    lat = [at[u] - d for u, d in due.items() if u in at]
    t_end = max(at[u] for u in due if u in at)
    r.put_latencies(lat)
    r.info["files"] = n_files
    r.put("gen.late_max_s", max(late))

    if r.traced:
        _stream_metrics(r, app, warm_batches)
        r.put("sources.backlog_files_max", backlog.max)
        r.put("trace.overhead_s", backlog.busy_s)
        r.put("sinks.deliver_s", r.tracer.total("deliver"))
        selfs = r.tracer.self_times()
        r.put("self.deliver_s", selfs.get("deliver", 0.0))
        r.put("self.gen_write_s", selfs.get("gen_write", 0.0))

    app.stop()
    _check(r, bus, sinks)
    return t_end - t_start


class _BacklogSampler:
    """Polls how many bus files have landed but are not yet committed by
    the slowest branch query."""

    def __init__(self, app, bus: Bus):
        self.app, self.bus, self.max, self.busy_s = app, bus, 0, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        while not self._stop.is_set():
            t0 = time.perf_counter()
            done = min(_files_committed(q) for q in self.app.queries.values())
            self.max = max(self.max, self.bus.n - done)
            self.busy_s += time.perf_counter() - t0
            self._stop.wait(BACKLOG_PERIOD_S)

    def stop(self):
        self._stop.set()
        self._t.join(timeout=10)


def _files_committed(q) -> int:
    p = q.lastProgress
    end = p["sources"][0]["endOffset"] if p and p["sources"] else None
    m = re.search(r"logOffset\D*(\d+)", str(end)) if end is not None else None
    return int(m.group(1)) + 1 if m else 0


def stream_progress_metrics(r: Run, name: str, progress: list[dict]) -> None:
    """stream.<name>.* from StreamingQuery.recentProgress entries."""
    def p50(key):
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return median(vals) if vals else 0.0

    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    r.put(f"stream.{name}.batches", len(progress))
    r.put(f"stream.{name}.trigger_ms_p50", median(trig) if trig else 0.0)
    r.put(f"stream.{name}.trigger_ms_max", max(trig) if trig else 0.0)
    for ph in PHASES:
        r.put(f"stream.{name}.{ph}_ms_p50", p50(ph))
    rows = [p["numInputRows"] for p in progress]
    r.put(f"stream.{name}.rows_per_batch_p50", median(rows) if rows else 0.0)


def _stream_metrics(r: Run, app, warm_batches) -> None:
    for name, q in app.queries.items():
        prog = [p for p in q.recentProgress if p["batchId"] > warm_batches[name] and p["numInputRows"]]
        stream_progress_metrics(r, name, prog)
        if name == "chat" and prog:
            ops = prog[-1]["stateOperators"]
            if ops:
                r.put("sessions.state_rows", ops[0]["numRowsTotal"])
                r.put("sessions.state_bytes", ops[0]["memoryUsedBytes"])
                r.put("sessions.commit_ms", median([p["stateOperators"][0]["commitTimeMs"] for p in prog]))


def _check(r: Run, bus: Bus, sinks: Sinks) -> None:
    """Every update that passes the filters reaches, exactly once, the
    branch the batch form of build_message_pipeline assigns it.

    The stateful chat operator runs only on streams, so the chat set is
    read off the same batch route: every routed update that the stateless
    task and command branches do not take, plus the '/reset' commands.
    """
    from pyspark.sql import functions as F

    from open_pulsar_spark.streaming.app import build_message_pipeline
    from open_pulsar_spark.streaming.router import (
        UPDATE_SCHEMA,
        filter_authorized,
        filter_text,
        project_updates,
        route,
    )

    allowed = set(gen.ALLOWED_IDS)
    batch = r.spark.createDataFrame(bus.rows, UPDATE_SCHEMA)
    branches = build_message_pipeline(r.spark, batch, allowed_ids=allowed)
    routed = route(filter_authorized(r.spark, filter_text(project_updates(batch)), allowed))

    def ids(df):
        return {row[0] for row in df.select("update_id").collect()}

    task, command, passed = ids(branches["task"]), ids(branches["command"]), ids(routed)
    resets = ids(branches["command"].where(F.col("cmd") == "/reset"))
    expected = {"chat": (passed - task - command) | resets, "task": task, "command": command}
    # The update mix is assumed, not measured traffic: report what share
    # of the offered rows each branch receives and what the filters drop.
    n = len(bus.rows)
    for b in BRANCHES:
        r.put(f"route.{b}_share", len(expected[b]) / n)
    r.put("route.filtered_share", 1 - len(passed) / n)
    r.info["route_share"] = {k[6:]: round(v, 3) for k, v in r.metrics.items() if k.startswith("route.")}
    r.attempted += n
    for bad in checks.check_branches(sinks.rows, expected):
        r.fail(bad)
