"""Pure computations behind the benchmark's metrics: percentiles, the
slice -> micro-batch mapping of the stream workload, source backlog, and
span self time. `perfbench/tests/test_metrics.py` covers them."""
import glob
import json
import os

MIN_BEYOND = 10


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    h = (len(xs) - 1) * q
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def tail_quantile(n, q, min_beyond=MIN_BEYOND):
    """The highest quantile <= q that leaves at least `min_beyond` of `n`
    samples beyond it; the median when the sample is too small for that
    to reach above it."""
    return max(0.5, min(q, 1.0 - min_beyond / n))


def tail_percentile(values, q, min_beyond=MIN_BEYOND):
    return percentile(values, tail_quantile(len(values), q, min_beyond))


def read_source_log(checkpoint):
    """(file path, source offset) pairs from a file-stream checkpoint's
    source log: one file per offset, periodically compacted into
    `<n>.compact` files that repeat every earlier entry. The offset counts
    admissions of new files, not micro-batches."""
    entries = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    entries[e["path"]] = e["batchId"]
    return sorted(entries.items(), key=lambda kv: kv[1])


def slice_offsets(entries, slice_names):
    """Slice file name -> the source log offset that admitted it. Fails
    if a slice was never admitted or was admitted twice."""
    by_name = {}
    for path, offset in entries:
        name = os.path.basename(path)
        if name in by_name:
            raise ValueError(f"{name} admitted at offsets {by_name[name]} "
                             f"and {offset}")
        by_name[name] = offset
    missing = [s for s in slice_names if s not in by_name]
    if missing:
        raise ValueError(f"slices never read: {missing}")
    return {s: by_name[s] for s in slice_names}


def slice_batches(entries, slice_names, progress):
    """Slice file name -> id of the micro-batch that read it: the batch
    whose source offset range (start, end] holds the slice's offset.
    Batches that read nothing (watermark or timeout batches) have an
    empty range and are never chosen."""
    out = {}
    for name, offset in slice_offsets(entries, slice_names).items():
        hits = [p["batch_id"] for p in progress
                if p["source_start"] < offset <= p["source_end"]]
        if len(hits) != 1:
            raise ValueError(f"{name} (offset {offset}) read by batches "
                             f"{hits}")
        out[name] = hits[0]
    return out


def batch_end_ms(progress):
    """Batch id -> completion time of that batch, from progress records."""
    return {p["batch_id"]: p["start_ms"] + p["duration_ms"]["triggerExecution"]
            for p in progress}


def slice_latencies(due_ms, slice_to_batch, batch_end):
    """Per slice, time from its scheduled arrival to the end of the batch
    that read it. Both dicts are keyed by slice name."""
    return [batch_end[slice_to_batch[s]] - v for s, v in due_ms.items()]


def backlog_at(times_ms, visible_before, data_batch_ends):
    """Slices visible but not yet processed by the slowest chain, at each
    arrival. `visible_before` is the number of slices visible before the
    first arrival; `data_batch_ends` holds, per chain, the end times of
    its batches that read data."""
    out = []
    for i, t in enumerate(times_ms):
        visible = visible_before + i + 1
        done = min(sum(1 for e in ends if e <= t) for ends in data_batch_ends)
        out.append(visible - done)
    return out


def utilization(progress, since_ms, rate_per_s):
    """Mean time a chain spent per slice that it read after `since_ms`,
    as a share of the mean gap between arrivals. Above 1 the chain cannot
    keep up and its backlog grows."""
    busy = [p["duration_ms"]["triggerExecution"] for p in progress
            if p["rows"] > 0 and p["start_ms"] >= since_ms]
    if not busy:
        return 0.0
    return sum(busy) / len(busy) * rate_per_s / 1000.0


def self_times(spans):
    """Span id -> self time: the span's duration minus the part of it
    covered by its children (overlapping children count once)."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, reach = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = max(0.0, hi - lo - covered)
    return out
