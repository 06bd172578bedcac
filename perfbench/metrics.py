"""Pure helpers shared by run.py and the benchmark's tests: percentiles,
event-time lag from a file sink's commit log and the share of operations
that succeeded."""
import json
import math
import os
import statistics
from urllib.parse import unquote, urlparse


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10, cap=0.99):
    """The highest percentile with at least `beyond` samples above it (capped
    at p99), as (percentile, value, sample count). With fewer than
    2 * `beyond` samples no percentile above the median qualifies, and the
    median is returned."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(values)
    if n < 2 * beyond:
        return 0.5, median(s), n
    q = min(cap, (n - beyond) / n)
    idx = math.ceil(q * n - 1e-9) - 1
    return q, s[idx], n


def ok_frac(attempted, failed):
    """Share of attempted operations that neither failed nor gave wrong output."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return (attempted - failed) / attempted


def commit_times(sink_dir):
    """Map each data file of a file-sink directory to the mtime (epoch
    seconds) of the `_spark_metadata/<batchId>` log entry that first made it
    visible. Compacted logs (`<batchId>.compact`) repeat earlier entries, so a
    file keeps the time of the first log that lists it."""
    md = os.path.join(sink_dir, "_spark_metadata")
    logs = []
    for name in os.listdir(md):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        head = name.split(".")[0]
        if head.isdigit():
            logs.append((int(head), name))
    seen = {}
    for _, name in sorted(logs):
        p = os.path.join(md, name)
        mtime = os.stat(p).st_mtime
        with open(p, encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # the first line is the log version
            if not line.strip():
                continue
            e = json.loads(line)
            if e.get("action", "add") != "add":
                continue
            path = unquote(urlparse(e["path"]).path)
            seen.setdefault(path, mtime)
    return seen


def sink_lags(sink_dir, ts_field, origin_ms=None, since_ms=None):
    """Per-row lag in ms: commit time of the row's file minus the row's
    `ts_field` (or minus `origin_ms` when given: time since the backlog was
    published). Rows whose `ts_field` is below `since_ms` are skipped."""
    out = []
    for path, mtime in commit_times(sink_dir).items():
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                if origin_ms is not None:
                    out.append(mtime * 1000.0 - origin_ms)
                    continue
                ts = json.loads(line).get(ts_field)
                if ts is None or (since_ms is not None and ts < since_ms):
                    continue
                out.append(mtime * 1000.0 - ts)
    return out


def committed_rows_by(sink_dir, until_s):
    """Rows of a file sink whose commit happened no later than `until_s`."""
    n = 0
    for path, mtime in commit_times(sink_dir).items():
        if mtime <= until_s:
            with open(path, encoding="utf-8") as f:
                n += sum(1 for line in f if line.strip())
    return n
