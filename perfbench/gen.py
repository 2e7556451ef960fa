"""Seeded input generator.

Every input the benchmark feeds the program is made here from the
workload seed alone, with numpy, and written as parquet under a work
directory the caller owns. The same seed gives byte-identical files
(``digest`` hashes them); a different seed gives different files.

Two input sets:

- ``session_days``: one events-shaped parquet table per trading day, in
  its own directory so ``sources.tables.load_ticks`` reads it as the
  tick source. The universe is the 5 event types x 36 suffixed replicas
  (180 symbols, the suffixed-replica axis of ``tools/scale_probe.py``);
  each symbol random-walks its price, ~175 ticks fall inside the
  09:15-15:30 session and a share fall outside it, so the session gate
  has work to do.
- ``tick_files``: one such day's in-session ticks as a stream source —
  ``n`` parquet files in event-time order, each written beside the
  source directory and renamed into it, with increasing mtimes so the
  file source lists them in order.
- ``corpus``: the ``documents`` table in the shape of the test tables at
  sf0.01 size (500 documents of 10-100 words over a 30-word vocabulary,
  5% of them an earlier document plus " dup"). The seed redraws the
  documents and permutes the vocabulary, so a new seed decorrelates
  shingles the way ``tools/scale_probe.py``'s replica transforms do,
  while size and shape distributions stay fixed.
"""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
REPLICAS = 36
SYMBOLS = tuple(f"{t}_r{r}" for t in EVENT_TYPES for r in range(REPLICAS))
FIRST_DAY = datetime(2024, 1, 1)
SESSION_OPEN_S = 9 * 3600 + 15 * 60
SESSION_CLOSE_S = 15 * 3600 + 30 * 60
INTERVAL_S = 300
TICKS_PER_SYMBOL_IN_SESSION = 175
OUT_OF_SESSION_SHARE = 0.2

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
N_SOURCES = 20
N_DOCS = 500
DUP_SHARE = 0.05


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def session_day(rng: np.random.Generator, day: int, out_dir: str) -> tuple[str, int]:
    """One trading day of ticks → ``<out_dir>/events.parquet``. Returns the
    directory (an sf-dir for ``load_ticks``) and the tick count."""
    n_sym = len(SYMBOLS)
    n_in = TICKS_PER_SYMBOL_IN_SESSION
    n_out = int(n_in * OUT_OF_SESSION_SHARE)
    per_sym = n_in + n_out
    sym = np.repeat(np.arange(n_sym), per_sym)
    in_sec = rng.uniform(SESSION_OPEN_S, SESSION_CLOSE_S, (n_sym, n_in))
    # out-of-session ticks: before the open or at/after the close
    out_sec = np.where(
        rng.random((n_sym, n_out)) < 0.5,
        rng.uniform(0, SESSION_OPEN_S, (n_sym, n_out)),
        rng.uniform(SESSION_CLOSE_S, 86400, (n_sym, n_out)),
    )
    sec = np.sort(np.concatenate([in_sec, out_sec], axis=1), axis=1).ravel()
    start = rng.uniform(20, 400, n_sym)
    steps = rng.normal(0, 0.002, (n_sym, per_sym))
    price = np.round(start[:, None] * np.exp(np.cumsum(steps, axis=1)), 2).ravel()
    day_us = int((FIRST_DAY.timestamp() + 86400 * day) * 1e6)
    ts_us = day_us + np.floor(sec * 1e6).astype(np.int64)
    order = np.argsort(ts_us, kind="stable")
    n = len(order)
    table = pa.table(
        {
            "event_id": pa.array(day * 10_000_000 + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us[order], pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 10_000, n, dtype=np.int64)),
            "event_type": pa.array(np.array(SYMBOLS)[sym[order]]),
            "value": pa.array(price[order]),
            "props": pa.array(["{}"] * n),
        }
    )
    _write(table, os.path.join(out_dir, "events.parquet"))
    return out_dir, n


def session_days(seed: int, n_days: int, root: str) -> list[tuple[str, int]]:
    """``n_days`` consecutive trading days under ``root/day=<k>/``."""
    rng = np.random.default_rng([seed, 1])
    return [session_day(rng, k, os.path.join(root, f"day={k:03d}")) for k in range(n_days)]


def tick_files(day_dir: str, src: str, n: int) -> int:
    """Publish the in-session ticks of ``day_dir`` into ``src`` as ``n``
    files of ``symbol, price, ts, event_id`` split at equal event-time
    steps. Returns the tick count."""
    t = pq.read_table(os.path.join(day_dir, "events.parquet"))
    ts = t["ts"].cast(pa.int64()).to_numpy()
    sec = (ts // 1_000_000) % 86400
    t = t.filter(pa.array((sec >= SESSION_OPEN_S) & (sec < SESSION_CLOSE_S)))
    ticks = pa.table(
        {"symbol": t["event_type"], "price": t["value"], "ts": t["ts"], "event_id": t["event_id"]}
    )
    ts = ticks["ts"].cast(pa.int64()).to_numpy()
    edges = np.linspace(ts.min(), ts.max() + 1, n + 1)
    staging = src.rstrip("/") + ".staging"
    os.makedirs(src, exist_ok=True)
    mtime = int(time.time()) - n
    for i in range(n):
        part = ticks.filter(pa.array((ts >= edges[i]) & (ts < edges[i + 1])))
        tmp = os.path.join(staging, f"ticks-{i:03d}.parquet")
        _write(part, tmp)
        dst = os.path.join(src, f"ticks-{i:03d}.parquet")
        os.rename(tmp, dst)
        os.utime(dst, (mtime + i, mtime + i))
    os.rmdir(staging)
    return ticks.num_rows


def corpus(seed: int, sf_dir: str) -> int:
    """Write the ``documents`` table under ``sf_dir``. Returns its row
    count."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(VOCAB)[rng.permutation(len(VOCAB))]
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(words, n)))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, N_SOURCES, N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(docs, os.path.join(sf_dir, "documents.parquet"))

    return N_DOCS


def digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes), in
    sorted path order."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
