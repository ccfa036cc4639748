#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every input the library sees is built here from the seed; the same seed
(and, for the live stream, the same start instant) gives byte-identical
files. The library never sees anything but the files.

  live_t1        CSV-line files in the reference wire format
                 (`timestamp,userID,sessionID,payload`), appended by a
                 separate process on an open-loop schedule.
  backlog_refmix the reference generator's four phases as a CSV backlog.
  curate_corpus  documents + embeddings parquet with planted near-dups.

Usage (the benchmark runner calls these; they also run by hand):
  python3 perfbench/gen.py live    --seed 1 --seconds 10 --dir D --t0 MS --manifest F
  python3 perfbench/gen.py backlog --seed 1 --dir D --manifest F
  python3 perfbench/gen.py curate  --seed 1 --dir D --manifest F
"""
import argparse
import json
import os
import random
import time

# The shapes of CsvIngest.malformedFixtures: every one must be dropped by
# the permissive parse (wrong arity, failed casts, blank line).
MALFORMED = [
    "2024-01-01 00:00:00.000000,1,2",
    "2024-01-01 00:00:00.000000,1,2,3,4",
    "not-a-date,1,2,3.5",
    "2024-01-01 00:00:00.000000,x,2,3.5",
    "2024-01-01 00:00:00.000000,1,y,3.5",
    "2024-01-01 00:00:00.000000,1,2,zz",
    "",
    ",,,",
]
MALFORMED_SHARE = 0.005
# StreamingSessions.FlushUser: a far-future event of this user advances
# the watermark so every real session closes; it is never a result.
FLUSH_USER = 999999999

LIVE_RATE = 1000          # offered events/s (the reference's peak)
LIVE_GAP_S = 2            # static session gap of the live pipeline
LIVE_FILE_MS = 50         # the generator appends one file per 50 ms
LIVE_FIRST_USER = 100000  # live users are unique: one burst, one session


def fmt_ts(us):
    """UTC `yyyy-MM-dd HH:mm:ss.SSSSSS` (CsvIngest.TsFormat)."""
    sec, frac = divmod(us, 1000000)
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec)) + ".%06d" % frac


def event_line(ts_us, user, txn):
    # payload = userID * 10, the reference generator's rule
    return "%s,%d,%d,%d" % (fmt_ts(ts_us), user, txn, user * 10)


def write_atomic(path, data, tmp_dir):
    tmp = os.path.join(tmp_dir, os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


# ---------------------------------------------------------------- live_t1

def live_plan(seed, seconds):
    """Event offsets (us from t0) per file, deterministic in the seed.

    Users arrive uniformly, each sends a burst of 4-8 events 20-80 ms
    apart and goes quiet, so sessions close throughout the run. Returns
    [(file_due_offset_us, [(event_offset_us, user or None), ...])], where
    a None user is a malformed line.
    """
    rng = random.Random(seed)
    horizon = seconds - 0.7  # every burst ends before `seconds`
    events = []
    user = LIVE_FIRST_USER
    hottest = 0
    while len(events) < LIVE_RATE * seconds:
        t = rng.uniform(0.0, horizon)
        burst = rng.randint(4, 8)
        hottest = max(hottest, burst)
        for _ in range(burst):
            events.append((int(t * 1e6), user))
            t += rng.uniform(0.02, 0.08)
        user += 1
    n_bad = int(len(events) * MALFORMED_SHARE)
    for _ in range(n_bad):
        events.append((int(rng.uniform(0.0, seconds - 0.05) * 1e6), None))
    events.sort(key=lambda e: (e[0], -1 if e[1] is None else e[1]))
    file_us = LIVE_FILE_MS * 1000
    files = []
    for ev in events:
        k = ev[0] // file_us
        while len(files) <= k:
            files.append(((len(files) + 1) * file_us, []))
        files[k][1].append(ev)
    flush_us = int((seconds + LIVE_GAP_S + 0.1) * 1e6)
    files.append((flush_us, [(flush_us, FLUSH_USER)]))
    return files, user - LIVE_FIRST_USER, n_bad, hottest


def live_file_bytes(rng_bad, t0_us, evs, txn0):
    lines = []
    txn = txn0
    for off, user in evs:
        if user is None:
            lines.append(MALFORMED[rng_bad.randrange(len(MALFORMED))])
        else:
            lines.append(event_line(t0_us + off, user, txn))
            txn += 1
    return "".join(l + "\n" for l in lines).encode(), txn


def run_live(seed, seconds, out_dir, t0_ms, manifest, realtime=True):
    """Open loop: file k is written at t0 + its due offset, whatever the
    consumer is doing. Lateness (write instant - due instant) is recorded
    per file in the manifest."""
    files, n_users, n_bad, hottest = live_plan(seed, seconds)
    tmp_dir = out_dir.rstrip("/") + "_tmp"
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    rng_bad = random.Random(seed * 7919 + 1)
    t0_us = t0_ms * 1000
    entries = []
    txn = 1
    for k, (due_off, evs) in enumerate(files):
        data, txn = live_file_bytes(rng_bad, t0_us, evs, txn)
        due_ms = (t0_us + due_off) / 1000.0
        if realtime:
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
        write_atomic(os.path.join(out_dir, "part-%05d.csv" % k), data, tmp_dir)
        done_ms = time.time() * 1000.0 if realtime else due_ms
        entries.append({"file": "part-%05d.csv" % k, "due_ms": due_ms,
                        "late_ms": max(0.0, done_ms - due_ms),
                        "events": sum(1 for _, u in evs if u is not None)})
    os.rmdir(tmp_dir)
    n_events = sum(e["events"] for e in entries) - 1  # minus the flush event
    info = {"workload": "live_t1", "t0_ms": t0_ms, "gap_s": LIVE_GAP_S,
            "rate": LIVE_RATE, "seconds": seconds, "users": n_users,
            "events": n_events, "malformed": n_bad,
            "malformed_share": n_bad / float(n_events + n_bad),
            "hot_key_share": hottest / float(n_events), "files": entries}
    if manifest:
        with open(manifest, "w") as f:
            json.dump(info, f)
    return info


# --------------------------------------------------------- backlog_refmix

# generator1.py's four phases: (events, tenant pool). Tenant 4 alone
# carries the last phase, ~96% of all events, in one mega-session.
REF_PHASES = [
    (1000, [4, 1, 5, 8, 100, 101, 198, 212, 213, 214, 301, 1000, 1990, 9999]),
    (100, [4]),
    (3000, [1, 198, 1990]),
    (100000, [4]),
]
BACKLOG_FILES = 12
BACKLOG_START_US = 1724659200 * 1000000  # 2024-08-26 08:00:00 UTC


def run_backlog(seed, out_dir, manifest):
    """The phases in event-time order, 1-11 s apart (the reference steps
    minutes; seconds keep the hot tenant in one session under every gap
    band), cut into BACKLOG_FILES files with increasing mtimes."""
    rng = random.Random(seed)
    lines = []
    ts = BACKLOG_START_US
    txn = 1
    n_events = 0
    n_hot = 0
    for count, pool in REF_PHASES:
        for _ in range(count):
            user = pool[rng.randrange(len(pool))]
            ts += rng.randint(1, 10) * 1000000 + rng.randrange(1000000)
            lines.append(event_line(ts, user, txn))
            txn += 1
            n_events += 1
            n_hot += user == 4
    n_bad = int(n_events * MALFORMED_SHARE)
    for _ in range(n_bad):
        lines.insert(rng.randrange(len(lines) + 1),
                     MALFORMED[rng.randrange(len(MALFORMED))])
    lines.append(event_line(ts + 86400 * 1000000, FLUSH_USER, txn))
    os.makedirs(out_dir, exist_ok=True)
    per = (len(lines) + BACKLOG_FILES - 1) // BACKLOG_FILES
    for k in range(BACKLOG_FILES):
        path = os.path.join(out_dir, "part-%05d.csv" % k)
        with open(path, "wb") as f:
            f.write(("\n".join(lines[k * per:(k + 1) * per]) + "\n").encode())
        # the file source orders by modification time
        mtime = 1700000000 + k
        os.utime(path, (mtime, mtime))
    info = {"workload": "backlog_refmix", "events": n_events,
            "malformed": n_bad, "malformed_share": n_bad / float(n_events + n_bad),
            "hot_key_share": n_hot / float(n_events), "files": BACKLOG_FILES}
    if manifest:
        with open(manifest, "w") as f:
            json.dump(info, f)
    return info


# ---------------------------------------------------------- curate_corpus

# the sf0.1 documents fixture draws its text from this vocabulary
VOCAB = ("a the of spark line part column order small sort fast value scan "
         "hash vector query agg table slow filter customer stream key group "
         "big batch merge join data index").split()
LANGS = ["en", "en", "en", "fr", "de", "zh", "es"]
CURATE_DOCS = 3000
CURATE_SOURCES = 20
NEARDUP_SHARE = 0.10
EMB_ROWS = 2000
EMB_DIM = 64


def run_curate(seed, out_dir, manifest):
    """Documents resampled in the sf0.1 fixture's shape (random vocabulary
    text, 20 sources), with NEARDUP_SHARE planted near-duplicates (one
    word of an original document of 40+ words replaced), a spam and a
    low-quality source that the source gate rejects, and
    near-uniform 64-d embeddings like the fixture's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    texts, sources, langs = [], [], []
    bases = []  # original documents long enough to copy as near-dups
    spam = []   # documents of the spam source
    planted = 0
    for i in range(CURATE_DOCS):
        src = i % CURATE_SOURCES
        if src == 0 and spam and rng.random() < 0.4:
            # spam source: exact copies of its own earlier documents
            words = texts[spam[rng.randrange(len(spam))]].split(" ")
        elif src == 1:
            # low-quality source: a handful of words repeated
            words = [VOCAB[rng.randrange(5)] for _ in range(rng.randint(10, 80))]
        elif bases and rng.random() < NEARDUP_SHARE:
            # one word of an original replaced: word 3-shingle Jaccard
            # >= 0.85, far above the 0.5 threshold, where banded LSH
            # misses a pair with probability < 1e-9
            words = texts[bases[rng.randrange(len(bases))]].split(" ")
            words[rng.randrange(len(words))] = VOCAB[rng.randrange(len(VOCAB))]
            planted += 1
        else:
            words = [VOCAB[rng.randrange(len(VOCAB))]
                     for _ in range(rng.randint(10, 80))]
            if len(words) >= 40:
                bases.append(i)
        if src == 0:
            spam.append(i)
        texts.append(" ".join(words))
        sources.append("src%d" % src)
        langs.append(LANGS[rng.randrange(len(LANGS))])
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(range(CURATE_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    gen = np.random.default_rng(seed)
    emb = gen.standard_normal((EMB_ROWS, EMB_DIM)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(range(EMB_ROWS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(gen.integers(0, 10, EMB_ROWS), pa.int32())})
    pq.write_table(embs, os.path.join(out_dir, "embeddings.parquet"))
    info = {"workload": "curate_corpus", "docs": CURATE_DOCS, "vectors": EMB_ROWS,
            "rejected_sources": ["src0", "src1"],
            "neardup_planted": planted, "neardup_share": planted / float(CURATE_DOCS)}
    if manifest:
        with open(manifest, "w") as f:
            json.dump(info, f)
    return info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["live", "backlog", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", default="")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--t0", type=int, default=0, help="live start, epoch ms")
    a = ap.parse_args()
    if a.kind == "live":
        run_live(a.seed, a.seconds, a.dir, a.t0, a.manifest)
    elif a.kind == "backlog":
        run_backlog(a.seed, a.dir, a.manifest)
    else:
        run_curate(a.seed, a.dir, a.manifest)


if __name__ == "__main__":
    main()
