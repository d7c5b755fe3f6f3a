"""Seeded input generator for the benchmark.

Writes the three tables the measured code reads (documents, events,
embeddings) with the shape of the repository's sf0.1 test tables: a
30-word vocabulary with 5% near-duplicate documents, 30 days of
timestamp-sorted events, unit-norm 64-d embeddings. The same seed gives
byte-identical files.

For the write workload it also writes late-data increments: per
increment one day, events already ingested re-sent verbatim plus new
events of that day.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.140, 0.149, 0.148, 0.151]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def documents(rng, n):
    n_words = rng.integers(8, 101, size=n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=k)])
             for k in n_words]
    # near-duplicates: 5% of the documents copy another document's text
    # and append one word, so MinHash/SimHash dedup has pairs to find
    dup = rng.choice(n, size=n // 20, replace=False)
    src = rng.integers(0, n, size=len(dup))
    for d, s in zip(dup, src):
        texts[d] = texts[s] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(rng, ids, ts_us):
    n = len(ids)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def generate(out, seed, days=30, n_docs=5000, n_vecs=2000,
             increments=0, inc_replay=200, inc_new=200):
    """Write the input tables under `out`; returns their total bytes.

    Events arrive at the sf0.1 rate (100,000 per 30 days) for `days` days.
    Increment i goes to `out/late/inc-<i>/` as a table directory of its
    own (events plus the same documents): `inc_replay` events of one day
    re-sent verbatim and `inc_new` new events of that day.
    """
    n_events = days * 100_000 // 30
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ts = np.sort(START_US + rng.integers(0, days * DAY_US, size=n_events))
    _write(documents(rng, n_docs), f"{out}/documents.parquet")
    ev = events(rng, np.arange(n_events), ts)
    _write(ev, f"{out}/events.parquet")
    _write(embeddings(rng, n_vecs), f"{out}/embeddings.parquet")
    day_of = (ts - START_US) // DAY_US
    next_id = n_events
    for i in range(increments):
        d = int(rng.integers(0, days))
        base = np.flatnonzero(day_of == d)
        replay = ev.take(np.sort(rng.choice(
            base, size=min(inc_replay, len(base)), replace=False)))
        new_ts = np.sort(START_US + d * DAY_US +
                         rng.integers(0, DAY_US, size=inc_new))
        new = events(rng, np.arange(next_id, next_id + inc_new), new_ts)
        next_id += inc_new
        inc = os.path.join(out, "late", f"inc-{i}")
        os.makedirs(inc)
        _write(pa.concat_tables([replay, new]), f"{inc}/events.parquet")
        shutil.copyfile(f"{out}/documents.parquet",
                        f"{inc}/documents.parquet")
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(out) for f in fs)
