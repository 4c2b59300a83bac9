"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed (NumPy's PCG64 streams,
no clock, no Spark), so one seed always yields byte-identical inputs and
the program under test only ever sees the files written here.

Stream workloads write one parquet file per trigger in the staged wire
format ``events_file_stream`` reads (``ts`` as epoch micros, int64), with
strictly increasing modification times so the file source replays them in
order, plus the concatenated ``events`` table (``ts`` as a naive UTC timestamp)
that the DuckDB oracles read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event time starts here; every workload's events lie after it.
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US

# Traffic dimensions, recorded in BENCHMARK.json's workload lines.
ROWS_PER_FILE = 5_000
N_APPS = 2_000
ZIPF_S = 1.3
LATE_SHARE = 0.02
LATE_MAX_US = 3 * DAY_US
SUMMARY_FILE_SPAN_US = 6 * HOUR_US
N_USERS = 5_000
SESSION_USERS = 400
SESSION_ROWS_PER_FILE = 100
SESSION_FILE_SPAN_US = 450_000_000  # 7.5 min: a user's mean gap is 30 min

# The curation corpus is fixed (its own seed, not --seed): the registered
# curation jobs stage indexes keyed on the corpus, and a fixed corpus keeps
# their work identical from run to run.
CURATION_SEED = 20240101
N_DOCS = 2_500
N_VECS = 1_000
EMB_DIM = 64
N_LABELS = 10
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# The visualizer's interactions, as dashboard read kinds: app drilldown
# (monthly rollup), month top-N (global rollup), day slice, app dictionary.
READ_KINDS = ("drill", "topn", "slice", "dict")

EVENT_SCHEMA_US = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def app_names() -> list[str]:
    """App keys by popularity rank.  Two ranks carry the names the summary
    counts as conversions, so ``T_conversions`` is exercised too."""
    names = [f"app{r:04d}" for r in range(N_APPS)]
    names[3], names[11] = "purchase", "signup"
    return names


def zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a Zipf(s) law truncated to ranks ``0..n_keys-1``."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.choice(n_keys, size=n, p=p / p.sum())


def _events_table(
    first_id: int, ts_us: np.ndarray, user_id: np.ndarray, event_type: list[str],
    value: np.ndarray, k: np.ndarray,
) -> pa.Table:
    n = len(ts_us)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us.astype(np.int64)),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array(value.astype(np.float64)),
            "props": pa.array([f"{{\"k\": {x}}}" for x in k.tolist()], pa.string()),
        },
        schema=EVENT_SCHEMA_US,
    )


def summary_slices(seed: int, n_files: int, first_file: int = 0, stream: int = 1) -> list[pa.Table]:
    """Per-file event slices for the summarizer: app key Zipf over
    ``N_APPS``, file ``i`` covering event time ``[i, i+1) * 6 h`` except a
    ``LATE_SHARE`` of rows that are late by up to three days.  ``stream``
    names an independent random stream for the same seed."""
    names = np.array(app_names(), dtype=object)
    out = []
    for i in range(first_file, first_file + n_files):
        rng = np.random.Generator(np.random.PCG64([seed, stream, i]))
        n = ROWS_PER_FILE
        ts = T0_US + i * SUMMARY_FILE_SPAN_US + rng.integers(0, SUMMARY_FILE_SPAN_US, n)
        late = rng.random(n) < LATE_SHARE
        ts = ts - np.where(late, rng.integers(1, LATE_MAX_US, n), 0)
        apps = names[zipf_ranks(rng, n, N_APPS, ZIPF_S)].tolist()
        value = np.round(rng.uniform(0.0, 200.0, n), 2)
        out.append(
            _events_table(i * n, ts, rng.integers(0, N_USERS, n), apps, value,
                          rng.integers(0, 100, n))
        )
    return out


def session_slices(seed: int, n_files: int, first_file: int = 0) -> list[pa.Table]:
    """Per-file event slices for the sessionizer: ``SESSION_USERS`` users,
    file ``i`` covering event time ``[i, i+1) * 7.5 min`` with no late rows, so
    each user's events are in event-time order across files (the
    sessionizer's ordering contract).  A user's mean gap is 30 minutes, so
    about one gap in three exceeds the 30-minute session gap and sessions
    close throughout the run."""
    names = np.array(app_names(), dtype=object)
    out = []
    for i in range(first_file, first_file + n_files):
        rng = np.random.Generator(np.random.PCG64([seed, 2, i]))
        n = SESSION_ROWS_PER_FILE
        ts = T0_US + i * SESSION_FILE_SPAN_US + rng.integers(0, SESSION_FILE_SPAN_US, n)
        apps = names[zipf_ranks(rng, n, N_APPS, ZIPF_S)].tolist()
        value = np.round(rng.uniform(0.0, 200.0, n), 2)
        out.append(
            _events_table(i * n, ts, rng.integers(0, SESSION_USERS, n), apps, value,
                          rng.integers(0, 100, n))
        )
    return out


def write_stream_dir(slices: list[pa.Table], directory: str, mtime0: float) -> None:
    """One parquet file per slice, modification times one second apart in
    slice order (the file source replays in mtime order)."""
    os.makedirs(directory, exist_ok=True)
    for i, t in enumerate(slices):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (mtime0 + i, mtime0 + i))


def to_oracle_events(slices: list[pa.Table]) -> pa.Table:
    """Concatenate slices with ``ts`` as a naive microsecond timestamp (UTC
    wall time) — the ``events`` table shape of the repository's test data,
    which the registry's oracles and ``load_table`` read."""
    t = pa.concat_tables(slices)
    ts = t.column("ts").cast(pa.timestamp("us"))
    return t.set_column(t.schema.get_field_index("ts"), "ts", ts)


def curation_corpus() -> tuple[pa.Table, pa.Table]:
    """The fixed curation corpus: ``documents`` (word salad over a 30-word
    vocabulary with a share of exact and near duplicates) and
    ``embeddings`` (64-d float32 vectors around ``N_LABELS`` centres)."""
    rng = np.random.Generator(np.random.PCG64(CURATION_SEED))
    vocab = np.array(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 50 and r < 0.003:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 50 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * N_DOCS, pa.string()),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, N_DOCS)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, N_VECS)
    vecs = (centres[labels] + rng.normal(0.0, 0.6, (N_VECS, EMB_DIM))) / 8.0
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return docs, emb


def dashboard_plan(seed: int, n_steps: int) -> list[list[dict]]:
    """Per step, the reads the single dashboard client issues after that
    step's upsert: one refresh of every view of the reference visualizer
    (SURVEY.md section 3.3: the game time series, path A, as the drilldown;
    the ranking, path B, at month depth as the top-N and at day depth as the
    slice; the game dropdown, path C, as the dictionary), in a seeded order.
    App keys are Zipf and days fall in the base table's range."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    names = app_names()
    return [
        [
            {"kind": READ_KINDS[int(k)], "app": names[int(zipf_ranks(rng, 1, N_APPS, ZIPF_S)[0])],
             "year": 2024, "month": 1, "day": int(rng.integers(2, 4))}
            for k in rng.permutation(len(READ_KINDS))
        ]
        for _ in range(n_steps)
    ]


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def dashboard_deltas(events: pa.Table, first_slice: int, n_steps: int) -> list[pa.Table]:
    """One upsert delta per event slice: for every (app, day) key the slice
    touches, that key's serving row over all events up to and including
    the slice — what an update-mode summarizer emits for the slice.  Rows
    come from the flagship oracle, so they carry the engine's exact values.
    ``events`` holds the oracle events of every slice plus a ``slice``
    column."""
    import duckdb

    from check import SERVING_SQL

    con = duckdb.connect()
    con.register("all_ev", events)
    out = []
    for s in range(first_slice, first_slice + n_steps):
        t = con.execute(
            f"""
WITH touched AS (
  SELECT DISTINCT event_type, date_trunc('day', ts) AS d FROM all_ev WHERE slice = {s}
),
events AS (
  SELECT e.* EXCLUDE (slice) FROM all_ev e
  JOIN touched t ON e.event_type = t.event_type AND date_trunc('day', e.ts) = t.d
  WHERE e.slice <= {s}
)
{SERVING_SQL}"""
        ).arrow()
        i = t.schema.get_field_index("time")
        out.append(t.set_column(i, "time", t.column("time").cast(pa.timestamp("us", tz="UTC"))))
    return out
