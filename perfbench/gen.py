"""Seeded input generators for the benchmark workloads.

Each generator is a pure function of its seed (and, for `live`, of the
clock it is handed), so the same seed reproduces the same bytes. The
program under test only ever sees the files these functions write.
"""
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- live: the wire events of the reference producer -----------------------

LIVE_USERS = 100_000
LIVE_ITEMS = 10_000
LIVE_TYPES = ("click", "view", "purchase", "like", "add_to_cart")
MALFORMED_SHARE = 0.01


def live_content(seed, n):
    """Per-event content, everything but the creation timestamp: user and
    item numbers, interaction type index and a malformed kind (0 = well
    formed, 1 = truncated JSON, 2 = null item_id)."""
    rng = np.random.default_rng([seed, 1])
    users = rng.integers(1, LIVE_USERS + 1, n)
    items = rng.integers(1, LIVE_ITEMS + 1, n)
    types = rng.integers(0, len(LIVE_TYPES), n)
    bad = rng.random(n) < MALFORMED_SHARE
    kind = np.where(bad, rng.integers(1, 3, n), 0)
    return users, items, types, kind


def iso_ms(ms):
    secs, frac = divmod(int(ms), 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + ".%03dZ" % frac


def wire_line(user, item, itype, ts_ms, kind):
    """One Kafka message value as the reference producer writes it."""
    obj = {"user_id": "user_%d" % user,
           "item_id": None if kind == 2 else "item_%d" % item,
           "interaction_type": LIVE_TYPES[itype],
           "timestamp": iso_ms(ts_ms)}
    line = json.dumps(obj)
    return line[: len(line) // 2] if kind == 1 else line


def live_file_lines(content, lo, hi, stamps_ms):
    users, items, types, kind = content
    return "\n".join(
        wire_line(users[i], items[i], types[i], stamps_ms[i - lo], kind[i])
        for i in range(lo, hi)) + "\n"


class LiveGenerator(threading.Thread):
    """Open-loop writer: one wire-JSON file per tick, on a schedule fixed
    at start that never waits for the consumer. Event i is stamped with
    its own due time t0 + i / rate; its file lands when the tick's last
    event is due. Files are written to a staging dir and renamed into the
    source dir, so the consumer never lists a half-written file. Each
    file's lateness (rename time minus due time) is recorded.

    The first `warm_s` seconds of load warm the consumer up at the offered
    rate; their files are marked `measured: False`, and the measured window
    starts at `measure_ms`."""

    def __init__(self, seed, rate, seconds, src_dir, stage_dir, tick_s=0.1,
                 clock=time.time, sleep=time.sleep, warm_s=0.0):
        super().__init__(daemon=True)
        self.rate, self.tick_s = rate, tick_s
        self.per_tick = max(1, int(round(rate * tick_s)))
        self.warm_ticks = int(round(warm_s / tick_s))
        self.n_ticks = self.warm_ticks + int(round(seconds / tick_s))
        self.content = live_content(seed, self.per_tick * self.n_ticks)
        self.src_dir, self.stage_dir = src_dir, stage_dir
        self.clock, self.sleep = clock, sleep
        self.files = []  # dicts: name, lo, hi, due, done, wellformed, measured
        self.t0_ms = None
        self.measure_ms = None

    def stamps(self, lo, hi):
        return [self.t0_ms + (i + 1) * 1000.0 / self.rate for i in range(lo, hi)]

    def run(self):
        os.makedirs(self.src_dir, exist_ok=True)
        os.makedirs(self.stage_dir, exist_ok=True)
        t0_ms = self.clock() * 1000.0
        self.measure_ms = t0_ms + self.warm_ticks * self.per_tick * 1000.0 / self.rate
        self.t0_ms = t0_ms
        kind = self.content[3]
        for k in range(self.n_ticks):
            lo, hi = k * self.per_tick, (k + 1) * self.per_tick
            due_ms = self.t0_ms + hi * 1000.0 / self.rate
            wait = due_ms / 1000.0 - self.clock()
            if wait > 0:
                self.sleep(wait)
            stamps = [int(s) for s in self.stamps(lo, hi)]
            name = "ev-%06d.json" % k
            staged = os.path.join(self.stage_dir, name)
            with open(staged, "w") as f:
                f.write(live_file_lines(self.content, lo, hi, stamps))
            os.rename(staged, os.path.join(self.src_dir, name))
            self.files.append({
                "name": name, "lo": lo, "hi": hi, "due_ms": due_ms,
                "done_ms": self.clock() * 1000.0, "stamps_ms": stamps,
                "wellformed": int((kind[lo:hi] == 0).sum()),
                "measured": k >= self.warm_ticks})


def write_live_warmup(seed, path, n=2000):
    """A small file of wire events for the warm-up pass; returns its number
    of well-formed events."""
    content = live_content(seed + 7919, n)
    stamps = [1_700_000_000_000 + 10 * i for i in range(n)]
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "warm-000.json"), "w") as f:
        f.write(live_file_lines(content, 0, n, stamps))
    return int((content[3] == 0).sum())


# --- serve: a Zipf-skewed events table as many parquet files ---------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_TYPE_P = (0.40, 0.30, 0.12, 0.10, 0.08)
EVENT_USERS = 50_000
ZIPF_S = 1.1
SLOT_S = 180          # event-time span of one file
LATE_SHARE = 0.1      # rows that arrive out of order ...
LATE_MAX_S = 240      # ... by at most this much, inside the 10-min watermark
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def events_table(seed, n_rows, n_files):
    """The `events` testdata schema, Zipf-skewed on user_id. File f holds
    event times of slot f, except LATE_SHARE of rows that carry a time up
    to LATE_MAX_S earlier: out of order, but always later than the
    previous file's slot minus the watermark, so none is dropped."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, EVENT_USERS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    user = rng.choice(EVENT_USERS, size=n_rows, p=p).astype(np.int64)
    etype = rng.choice(len(EVENT_TYPES), size=n_rows, p=EVENT_TYPE_P)
    value = np.round(rng.lognormal(3.5, 1.0, n_rows), 2)
    k = rng.integers(0, 100, n_rows)
    per = n_rows // n_files
    files = []
    for f in range(n_files):
        lo, hi = f * per, (n_rows if f == n_files - 1 else (f + 1) * per)
        m = hi - lo
        offs = np.sort(rng.integers(0, SLOT_S * 1_000_000, m))
        late = rng.random(m) < LATE_SHARE
        offs = offs - np.where(late, rng.integers(0, LATE_MAX_S * 1_000_000, m), 0)
        ts = T0_US + f * SLOT_S * 1_000_000 + offs
        files.append(pa.table({
            "event_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user[lo:hi]),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype[lo:hi]]),
            "value": pa.array(value[lo:hi]),
            "props": pa.array(['{"k": %d}' % v for v in k[lo:hi]]),
        }))
    return files


def write_events_dir(seed, path, n_rows, n_files):
    """Write the table as `n_files` parquet files whose modification times
    increase with the file index, so a file source lists them in order."""
    os.makedirs(path, exist_ok=True)
    base = 1_700_000_000
    for f, t in enumerate(events_table(seed, n_rows, n_files)):
        fp = os.path.join(path, "part-%05d.parquet" % f)
        pq.write_table(t, fp)
        os.utime(fp, (base + f, base + f))


# --- serve: documents + 64-d embeddings ------------------------------------

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DIM = 64


def corpus(seed, n_docs):
    """`documents` and `embeddings` in the testdata schema. Ids run
    0..n_docs-1, far below the 10M variant band."""
    rng = np.random.default_rng([seed, 3])
    wp = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.3
    wp /= wp.sum()
    texts = []
    for _ in range(n_docs):
        words = [VOCAB[i] for i in rng.choice(len(VOCAB), int(rng.integers(10, 100)), p=wp)]
        if rng.random() < 0.05:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    langs = rng.choice(len(LANGS), n_docs, p=LANG_P)
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in langs]),
        "source": pa.array(["src%d" % i for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_docs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(ids),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return docs, embs


def write_corpus(seed, path, n_docs):
    os.makedirs(path, exist_ok=True)
    docs, embs = corpus(seed, n_docs)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    pq.write_table(embs, os.path.join(path, "embeddings.parquet"))
