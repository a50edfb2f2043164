"""Seeded inputs for graft's benchmark.

Everything the engine sees is generated here from the workload seed:

- an `events` table shaped like graft's testdata (event_id, ts timestamp[us],
  user_id, event_type, value, props), 100k rows over 30 days (sf0.1 scale);
- the statement order of each closed-loop client;
- the open-loop write schedule and payloads of `serve_mixed`, plus the
  subscription predicate that matches a seeded share of those writes;
- the per-pass gate order of `batch_board`.

The same seed always gives byte-identical inputs.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 100_000
USERS = 1_500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_MS = 86_400_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAYS = 30
END_MS = START_MS + DAYS * DAY_MS  # first ms after the dataset

DB, NS, METRIC = "bench", "default", "events"

# The fixed read mix: every plan shape of the dialect, each answering 1-200 rows.
RANGE_LO = START_MS + 10 * DAY_MS + 12 * 3_600_000
IV_LO, IV_HI = START_MS + 7 * DAY_MS, START_MS + 14 * DAY_MS
STATEMENTS = [
    ("gatling", "select * from events limit 1"),
    ("ordered_scan", "select * from events where value > 150 order by event_id limit 100"),
    ("time_range", f"select * from events where timestamp >= {RANGE_LO} and timestamp < {RANGE_LO + 3_600_000}"),
    ("global_count", "select count(*) from events"),
    ("tag_sum", "select sum(value) from events group by event_type"),
    ("tag_count_distinct", "select count(distinct user_id) from events group by event_type"),
    ("interval_sum", f"select sum(value) from events where timestamp in ({IV_LO}, {IV_HI}) group by interval 1 d"),
]

# Training-data gates of SparkEntry.queries that run on the events table
# alone: the two heaviest of each such family by the committed sf0.1 floors
# (ev_*, ts_*), the next heaviest ev_ gate, and the ts_ gate that runs the
# Theil-Sen kernel of graft.functions.
GATES = ["ev_boot", "ev_steptime", "ev_markov", "ts_period", "ts_runs", "ts_theilsen"]

READERS = {"serve_read": 4, "serve_mixed": 2}
WRITE_RATE = 2.0  # writes/s in serve_mixed; at 4/s beside 2 readers the serialized insert path falls behind
WARM_SECONDS = 15  # unrecorded load before the measured phase
PROBE = "probe"   # event_type of written records; never present in the loaded data


def events_table(rng, rows):
    ts = np.sort(rng.integers(START_MS * 1000, END_MS * 1000, size=rows, dtype=np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, size=rows, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=rows)]),
    })


def write_schedule(rng, seconds, phases):
    """Open-loop writes at WRITE_RATE for every timed phase, after the data's end."""
    n = int(seconds * WRITE_RATE * phases) + 8
    values = np.round(rng.uniform(0.5, 200.0, size=n), 2)
    # a seeded share of writes passes the subscription predicate `value > threshold`
    share = float(rng.uniform(0.25, 0.75))
    threshold = round(float(np.quantile(values, 1.0 - share)), 2) + 0.005
    users = rng.integers(0, USERS, size=n)
    writes = [{
        "event_id": ROWS + i,
        "timestamp": END_MS + 60_000 + i,
        "user_id": int(users[i]),
        "value": float(values[i]),
        "matches": bool(values[i] > threshold),
    } for i in range(n)]
    return writes, threshold


def make(workload, seed, seconds, trace, work, cores):
    """Writes the workload's inputs under `work` and returns the spec the JVM side reads."""
    rng = np.random.default_rng([seed, 7])
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(events_table(rng, ROWS), os.path.join(data_dir, "events.parquet"))
    spec = {
        "workload": workload, "seconds": seconds, "trace": trace, "cores": cores,
        "work": work, "data_dir": data_dir, "rows": ROWS,
        "db": DB, "namespace": NS, "metric": METRIC, "setups": 3,
    }
    spec["warm_seconds"] = WARM_SECONDS
    if workload == "batch_board":
        spec["gates"] = GATES
        spec["pass_orders"] = [[int(i) for i in rng.permutation(len(GATES))] for _ in range(64)]
        return spec
    spec["statements"] = [{"id": i, "q": q} for i, q in STATEMENTS]
    # each client walks seeded rounds, every round a permutation of the whole
    # mix, so every window of load holds each statement equally often
    spec["orders"] = [[int(i) for _ in range(512) for i in rng.permutation(len(STATEMENTS))]
                      for _ in range(READERS[workload])]
    if workload == "serve_mixed":
        writes, threshold = write_schedule(rng, seconds, 3 if trace else 1)
        spec["write_rate"] = WRITE_RATE
        spec["writes"] = writes
        spec["probe"] = PROBE
        spec["subscribe_q"] = f"select * from events where event_type = {PROBE} and value > {threshold:.3f}"
    return spec


def fingerprint(path):
    """Bytes, rows and content hash of the generated table. graft's Bench
    records bytes, mtime and rows; a table generated afresh each run has a new
    mtime every time, so the content hash stands in for it."""
    f = os.path.join(path, "data", "events.parquet")
    with open(f, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    return {"events": {"bytes": os.path.getsize(f), "sha256": digest,
                       "rows": pq.ParquetFile(f).metadata.num_rows}}
