"""The index half of the `stream` workload: `start_neardup_stream` over
seed-split document epochs, all queued before the stream starts. Epoch 0
is the warm-up; every later epoch writes a segment to the
`streaming.segments` store while reading and joining the growing index.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.harness import Run
from perfbench.msg import stream_progress_metrics
from perfbench.stats import median

EPOCHS = 3  # measured epochs after the warm-up epoch
DOCS_PER_EPOCH = 100


def _wall(progress: dict) -> float:
    ts = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def _du(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def run_part(r: Run) -> float:
    """Run every epoch; returns the measured epochs' wall time and adds the
    stream start plus warm-up epoch to the set-up time."""
    from open_pulsar_spark.streaming.neardup_stream import start_neardup_stream
    from open_pulsar_spark.streaming.segments import list_segments

    rng = np.random.default_rng(r.seed)
    docs = gen.make_documents(rng, DOCS_PER_EPOCH * (EPOCHS + 1))
    src, idx, out = r.path("epochs"), r.path("index"), r.path("survivors")
    epochs = gen.write_epochs(docs, EPOCHS + 1, r.seed, src)
    epoch_of = {int(d): e for e, t in enumerate(epochs) for d in t.column("doc_id").to_pylist()}
    pairs = _lsh_pairs(r, docs)

    t0 = time.time()
    stream = r.spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = start_neardup_stream(r.spark, stream, idx, out, r.path("index-ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    prog = sorted(q.recentProgress, key=lambda p: p["batchId"])
    warm, measured = prog[0], [p for p in prog[1:] if p["numInputRows"]]
    warm_end = _wall(warm) + warm["durationMs"]["triggerExecution"] / 1000.0
    r.setup_times[-1] += warm_end - t0
    last = measured[-1]
    wall = _wall(last) + last["durationMs"]["triggerExecution"] / 1000.0 - warm_end
    n_docs = len(epoch_of) - epochs[0].num_rows
    r.info.update(index_epochs=len(measured), index_docs=n_docs)
    r.put("throughput_per_s", n_docs / wall)

    kept = {row[0] for row in r.spark.read.parquet(out).select("doc_id").collect()}
    r.attempted += len(epoch_of)
    for bad in checks.check_neardup(kept, epoch_of, pairs):
        r.fail(bad)

    if r.traced:
        stream_progress_metrics(r, "index", measured)
        add = [p["durationMs"].get("addBatch", 0) for p in measured]
        k = max(1, min(5, len(add) // 2))
        r.put("index.addBatch_growth", median(add[-k:]) / max(1.0, median(add[:k])))

        segs = list_segments(idx)
        r.put("segments.committed", len(segs))
        r.put("segments.bytes", _du(idx))
        r.put("segments.compactions", sum(os.path.basename(s).startswith("compact-") for s in segs))
    return wall


def _lsh_pairs(r: Run, docs) -> list[tuple[int, int]]:
    """The batch `dedup_minhash_lsh` pairs over all epochs, from its DuckDB
    oracle (computed outside every timed region)."""
    import duckdb

    from open_pulsar_spark import registry

    path = r.path("docs.parquet")
    pq.write_table(docs, path)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(registry.all_oracles()["dedup_minhash_lsh"])
        a, b = rel.columns.index("a_id"), rel.columns.index("b_id")
        return [(row[a], row[b]) for row in rel.fetchall()]
    finally:
        con.close()
