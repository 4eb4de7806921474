"""Kafka-shaped inputs for the streaming workload.

Cuts a fixed `events` parquet table by `ts` into equal time slices, one
JSON-lines file of Kafka records per slice. The same table always gives
the same files; the seed plays no part here.
"""
import json
import os

import numpy as np
import pyarrow.parquet as pq


def write_kafka_slices(out_dir, events_path, n_slices):
    """Cut the `events` table at `events_path` by `ts` into `n_slices`
    equal time ranges over its whole span, one file per slice in
    `out_dir`. Returns the event count of each slice."""
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(events_path).sort_by([("ts", "ascending"),
                                             ("event_id", "ascending")])
    ts = t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    lo, hi = int(ts.min()), int(ts.max()) + 1
    width = -(-(hi - lo) // n_slices)
    slice_of = (ts - lo) // width
    py = t.to_pydict()
    files = [open(os.path.join(out_dir, f"slice-{s:04d}.json"), "w")
             for s in range(n_slices)]
    counts = [0] * n_slices
    for i in range(t.num_rows):
        s = int(slice_of[i])
        stamp = py["ts"][i].strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        value = json.dumps({
            "event_id": py["event_id"][i], "ts": stamp,
            "user_id": py["user_id"][i], "event_type": py["event_type"][i],
            "value": py["value"][i], "props": py["props"][i]})
        files[s].write(json.dumps({
            "key": str(py["user_id"][i]), "value": value,
            "topic": "dbserver1.public.events", "partition": 0,
            "offset": i, "timestamp": stamp}) + "\n")
        counts[s] += 1
    for f in files:
        f.close()
    return counts
