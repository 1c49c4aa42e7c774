"""The maintained event stores: one staged file of events drained through
``streaming.rollup.maintain_rollup`` and
``streaming.sketch.maintain_heavy_hitters`` into fresh at-rest stores.

Freshness is read from outside the engine, from each query's checkpoint:
``sources/0/<batch>`` names the files a batch took, and the mtime of
``commits/<batch>`` is when the batch was committed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROLLUP = "streaming.rollup"
SKETCH = "streaming.sketch"

# The staged file's schema: ts as a UTC timestamp, which the rollup's
# watermark needs (the input tables carry it without a time zone).
EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def stage(data_dir: str, base: str) -> tuple[str, dict[str, float]]:
    """Write the input events as one file under ``base/arrivals``;
    returns the directory and ``{file name: time it was due}``."""
    if os.path.exists(base):
        shutil.rmtree(base)
    arrivals = os.path.join(base, "arrivals")
    os.makedirs(arrivals)
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    i = events.schema.get_field_index("ts")
    events = events.set_column(
        i, "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC")))
    name = "part-0.parquet"
    tmp = os.path.join(base, name)
    pq.write_table(events, tmp)
    os.replace(tmp, os.path.join(arrivals, name))  # appears whole
    return arrivals, {name: time.time()}


def drain(spark, arrivals: str, base: str) -> dict[str, list[dict]]:
    """Start both maintenance queries over the staged files, wait until
    each has processed all of them, stop them; returns each store's
    ``recentProgress``."""
    from customer_churn_prediction_spark.streaming import rollup, sketch

    def stream():
        return spark.readStream.schema(EVENTS_SCHEMA).parquet(arrivals)

    queries = {}
    try:
        queries[ROLLUP] = rollup.maintain_rollup(
            stream(), os.path.join(base, "rollup"),
            query_name="perfbench-rollup",
            checkpoint=os.path.join(base, "ckpt-rollup"))
        queries[SKETCH] = sketch.maintain_heavy_hitters(
            spark, stream(), os.path.join(base, "cms"),
            checkpoint=os.path.join(base, "ckpt-cms"))
        for q in queries.values():
            q.processAllAvailable()
        return {layer: [json.loads(p.json) for p in q.recentProgress]
                for layer, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()


def checkpoint_of(base: str, layer: str) -> str:
    return os.path.join(base, "ckpt-rollup" if layer == ROLLUP else "ckpt-cms")


def store_of(base: str, layer: str) -> str:
    return os.path.join(base, "rollup" if layer == ROLLUP else "cms")


def commit_times(checkpoint: str) -> dict[str, float]:
    """``{file name: commit time}`` for every file a committed batch of
    the query took (file-source log version 1)."""
    out = {}
    commits = os.path.join(checkpoint, "commits")
    sources = os.path.join(checkpoint, "sources", "0")
    for batch in os.listdir(commits):
        if not batch.isdigit():
            continue
        committed = os.stat(os.path.join(commits, batch)).st_mtime
        with open(os.path.join(sources, batch)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # the first line is the log version
            if line.strip():
                out[os.path.basename(json.loads(line)["path"])] = committed
    return out


def freshness_ms(checkpoints: list[str], due: dict[str, float]) -> list[float]:
    """Per file: time from when it was due until every query in
    ``checkpoints`` has committed a batch holding it. A file some query
    has not committed is left out."""
    committed = [commit_times(c) for c in checkpoints]
    return [
        1000 * (max(c[name] for c in committed) - t)
        for name, t in sorted(due.items())
        if all(name in c for c in committed)
    ]


def _dir_mb(path: str) -> float:
    size = 0
    for root, _, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return size / 2**20


def summary(layer: str, progress: list[dict], base: str,
            due: dict[str, float]) -> dict[str, float]:
    """A store's figures for one drain: freshness of its files, median
    epoch time, batches with input, state rows, store size."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    fresh = freshness_ms([checkpoint_of(base, layer)], due)
    out = {
        "fresh_p50_ms": statistics.median(fresh) if fresh else 0.0,
        "epoch_ms_p50": statistics.median(
            p["durationMs"]["triggerExecution"] for p in batches)
        if batches else 0.0,
        "batches": len(batches),
        "store_mb": _dir_mb(store_of(base, layer)),
    }
    if layer == ROLLUP:
        last = progress[-1]["stateOperators"] if progress else []
        out["state_rows"] = sum(s["numRowsTotal"] for s in last)
    return out
