"""Pure measurement helpers: percentiles, the checkpoint mapping behind
freshness, streaming progress digests and span self times."""
import bisect
import calendar
import json
import math
import os
import time

LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, q):
    """Linear-interpolated percentile q (0..100) of a non-empty sample."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_level(n, cap):
    """The highest ladder percentile, at most `cap`, with at least
    MIN_BEYOND samples beyond it; None when even the median lacks them."""
    ok = [q for q in LADDER if q <= cap and round(n * (100.0 - q), 6) >= MIN_BEYOND * 100]
    return ok[-1] if ok else None


def tail(values, cap):
    """(level, value, n): the tail percentile the sample supports. With
    fewer than 2 * MIN_BEYOND samples it falls back to the median, and the
    level says so."""
    n = len(values)
    level = tail_level(n, cap) or 50.0
    return level, percentile(values, level), n


def tail_mean(values, share):
    """(mean, k): the mean of the slowest k = ceil(share * n) values."""
    v = sorted(values, reverse=True)
    k = max(1, math.ceil(share * len(v)))
    return sum(v[:k]) / k, k


def read_log_entries(path):
    """Entries of one Spark metadata-log file: a version line, then one
    JSON object per line."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(l) for l in lines[1:] if l.strip()]


def file_batches(ckpt, source=0):
    """Source file name -> query micro-batch id. The file source numbers
    its own log (`<ckpt>/sources/<source>`, plain and `.compact` files);
    `<ckpt>/offsets/<N>` records the source log id query batch N ends at,
    so a file belongs to the first batch whose end reaches its log id."""
    log_id = {}
    d = os.path.join(ckpt, "sources", str(source))
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if not name.startswith("."):
            for e in read_log_entries(os.path.join(d, name)):
                log_id[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    d = os.path.join(ckpt, "offsets")
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                off = f.read().splitlines()[2 + source]
            ends.append((int(name), json.loads(off)["logOffset"]))
    ends.sort()
    out = {}
    for f, lid in log_id.items():
        i = bisect.bisect_left([e for _, e in ends], lid)
        if i < len(ends):
            out[f] = ends[i][0]
    return out


def commit_times_ms(ckpt):
    """Micro-batch id -> time its commit-log entry was written (ms)."""
    d = os.path.join(ckpt, "commits")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e6
    return out


def file_commit_ms(ckpts):
    """Source file name -> time every query has committed the batch holding
    it; files some query has not committed are absent."""
    per = []
    for ckpt in ckpts:
        batches, commits = file_batches(ckpt), commit_times_ms(ckpt)
        per.append({f: commits[b] for f, b in batches.items() if b in commits})
    common = set.intersection(*(set(p) for p in per)) if per else set()
    return {f: max(p[f] for p in per) for f in common}


def freshness(gen_files, committed):
    """Per-event freshness (commit time minus creation stamp, ms) and the
    number of events not delivered."""
    fresh, missing = [], 0
    for g in gen_files:
        t = committed.get(g["name"])
        if t is None:
            missing += g["hi"] - g["lo"]
        else:
            fresh += [t - s for s in g["stamps_ms"]]
    return fresh, missing


def progress_digest(progress, since_ms=None):
    """Means over StreamingQueryProgress JSON documents (one list per
    query) of the triggers that started at or after since_ms; state size
    is each query's peak, summed over queries."""
    trig, peak_rows, peak_bytes = [], 0, 0
    for docs in progress:
        q_rows = q_bytes = 0
        for doc in docs:
            p = json.loads(doc)
            start = iso_ms(p["timestamp"])
            if since_ms is not None and start < since_ms:
                continue
            d = p.get("durationMs", {})
            ops = p.get("stateOperators") or [{}]
            q_rows = max(q_rows, ops[0].get("numRowsTotal", 0))
            q_bytes = max(q_bytes, ops[0].get("memoryUsedBytes", 0))
            trig.append({
                "start_ms": start,
                "rows": p.get("numInputRows", 0),
                "trigger": d.get("triggerExecution", 0),
                "planning": d.get("queryPlanning", 0),
                "source": d.get("latestOffset", 0) + d.get("getBatch", 0),
                "wal": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "exec": d.get("addBatch", 0),
                "state_update": ops[0].get("allUpdatesTimeMs", 0),
                "state_commit": ops[0].get("commitTimeMs", 0),
                "dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
            })
        peak_rows += q_rows
        peak_bytes += q_bytes
    n = len(trig)

    def mean(k):
        return sum(r[k] for r in trig) / n if n else 0.0
    return {
        "triggers": n,
        "empty_trigger_ratio": sum(1 for r in trig if r["rows"] == 0) / n if n else 0.0,
        "trigger_ms": mean("trigger"), "planning_ms": mean("planning"),
        "source_ms": mean("source"), "wal_ms": mean("wal"),
        "batch_exec_ms": mean("exec"), "state_update_ms": mean("state_update"),
        "state_commit_ms": mean("state_commit"),
        "state_rows": peak_rows, "state_bytes": peak_bytes,
        "rows_dropped_late": sum(r["dropped"] for r in trig),
        "trigger_starts_ms": [r["start_ms"] for r in trig],
    }


def iso_ms(s):
    """Spark progress timestamp ('2024-01-01T00:00:00.123Z') -> epoch ms."""
    base, frac = s.rstrip("Z").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) * 1000.0 + float("0." + frac) * 1000.0


def files_waiting(triggers, file_batch, written_ms):
    """Per trigger (batch id, start ms) of one query: the number of files
    already written when it started that only a later batch takes."""
    return [sum(1 for f, w in written_ms.items()
                if w < start and file_batch.get(f, math.inf) > batch)
            for batch, start in triggers]


def self_times(spans):
    """Span name -> (total self time ms, count). Self time is a span's
    duration minus the part of it that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                     for c in kids.get(s["id"], ()))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        tot, n = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (tot + (hi - lo) - covered, n + 1)
    return out
