"""Checks the harness's answers against DuckDB and computes the metrics.

A failed operation (non-2xx, client deadline, wrong answer, a missing,
duplicate or unexpected push, a thrown gate) is counted in `failed` and left
out of every latency sample.
"""
import json
import math
import statistics
import sys

import duckdb

import inputs

REL_TOL = 1e-9  # scripts/check_oracle.py's float tolerance


def pct(xs, p):
    """Linear-interpolated percentile; 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = p / 100 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def same(a, b):
    """Value equality with scripts/check_oracle.py's float tolerance, recursing into lists and maps."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) or isinstance(b, (int, float)):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= REL_TOL * max(1.0, abs(fa), abs(fb))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)


def same_rows(got, want, ordered):
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: json.dumps(r, sort_keys=True, default=str)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(same(g, w) for g, w in zip(got, want))


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')")
    con.execute('CREATE VIEW metric AS SELECT epoch_us(ts) // 1000 AS "timestamp", value, event_id, '
                "event_type, user_id FROM events")
    return con


def records(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


# ----------------------------------------------------------------- serving

def expected_reads(con):
    """The oracle answer of each statement over the loaded data, as /query records."""
    rng_lo, rng_hi = inputs.RANGE_LO, inputs.RANGE_LO + 3_600_000
    lo, hi, day = inputs.IV_LO, inputs.IV_HI, inputs.DAY_MS
    buckets = max(1, (hi - lo + day - 1) // day)
    cols = '"timestamp", value, event_id, event_type, user_id'
    return {
        "ordered_scan": records(con, f"SELECT {cols} FROM metric WHERE value > 150 ORDER BY event_id LIMIT 100"),
        "time_range": records(con, f'SELECT {cols} FROM metric WHERE "timestamp" >= {rng_lo} AND "timestamp" < {rng_hi}'),
        "global_count": records(con, "SELECT count(*) AS count FROM metric"),
        "tag_sum": records(con, "SELECT event_type, sum(value) AS value FROM metric GROUP BY 1"),
        "tag_count_distinct": records(con, "SELECT event_type, count(DISTINCT user_id) AS value FROM metric GROUP BY 1"),
        # graft's backward-anchored buckets (SparkEntry.temporalOracle)
        "interval_sum": records(con, f"""
            WITH b AS (SELECT {hi} - least(({hi} - "timestamp") // {day}, {buckets - 1}) * {day} AS ub, value
                       FROM metric WHERE "timestamp" BETWEEN {lo} AND {hi})
            SELECT ub AS "timestamp", greatest({lo}, ub - {day}) AS "lowerBound", ub AS "upperBound",
                   sum(value) AS value FROM b GROUP BY ub ORDER BY ub"""),
    }


class ReadChecker:
    def __init__(self, spec, con):
        self.ids = [s["id"] for s in spec["statements"]]
        self.want = expected_reads(con)
        self.rows = spec["rows"]
        self.by_id = {r["event_id"]: r for r in records(con, 'SELECT "timestamp", value, event_id, event_type, '
                                                                   "user_id FROM metric")}
        for w in spec.get("writes", []):
            self.by_id[w["event_id"]] = {"timestamp": w["timestamp"], "value": w["value"], "event_id": w["event_id"],
                                         "event_type": spec["probe"], "user_id": w["user_id"]}
        self.mixed = "writes" in spec
        self.write_value_total = sum(w["value"] for w in spec.get("writes", []))
        self.write_users = len({w["user_id"] for w in spec.get("writes", [])})
        self.probe = spec.get("probe")

    def ok(self, stmt, body, acked_before, sent_before):
        try:
            doc = json.loads(body)
        except ValueError:
            return False
        if doc.get("truncated") is not False:
            return False
        got = doc["records"]
        name = self.ids[stmt]
        if name == "gatling":
            return len(got) == 1 and same(got[0], self.by_id.get(got[0].get("event_id")))
        if name == "global_count":
            n = got[0]["count"] if len(got) == 1 else -1
            return self.rows + acked_before <= n <= self.rows + sent_before
        if name in ("tag_sum", "tag_count_distinct") and self.mixed:
            probe = [r for r in got if r["event_type"] == self.probe]
            got = [r for r in got if r["event_type"] != self.probe]
            limit = self.write_value_total if name == "tag_sum" else self.write_users
            if any(not 0 < r["value"] <= limit * (1 + REL_TOL) for r in probe):
                return False
        return same_rows(got, self.want[name], ordered=name in ("ordered_scan", "interval_sum"))


def evaluate_serve(spec, raw, con):
    checker = ReadChecker(spec, con)
    verified = {}
    bodies = {bid: body for bid, _, body in raw["bodies"]}
    reads = [dict(zip(("phase", "client", "stmt", "send", "lat", "status", "body", "acked", "sent"), r))
             for r in raw["reads"]]
    for r in reads:
        count_like = checker.ids[r["stmt"]] == "global_count"
        key = r["body"]
        if count_like or key not in verified:
            good = r["status"] == 200 and checker.ok(r["stmt"], bodies[key], r["acked"], r["sent"])
            if count_like:
                r["ok"] = good
                continue
            verified[key] = good
        r["ok"] = verified[key]

    writes = [dict(zip(("phase", "index", "due", "send", "ack", "status"), w)) for w in raw["writes"]]
    failed = sum(not r["ok"] for r in reads) + sum(w["status"] != 200 for w in writes)
    attempted = len(reads) + len(writes)
    push_ms, push_lag = [], []
    if spec["workload"] == "serve_mixed":
        received = {}
        for eid, t in raw["pushes"]:
            received.setdefault(int(eid), []).append(t)
        sched = spec["writes"]
        acked = {w["index"]: w for w in writes if w["status"] == 200}
        for i, w in acked.items():
            got = received.pop(sched[i]["event_id"], [])
            if sched[i]["matches"]:
                attempted += 1
                if len(got) != 1:
                    failed += 1
                elif w["phase"] < 2:
                    push_ms.append(got[0] - w["due"])
                    push_lag.append(got[0] - w["ack"])
            elif got:
                failed += 1
        failed += sum(len(ts) for ts in received.values())  # pushes of no acknowledged write

    http_writes = [w for w in writes if w["phase"] < 2 and w["status"] == 200]
    measured = [r for r in reads if r["phase"] == 0 and r["ok"]]
    lat = [r["lat"] for r in measured]
    span_ms = (max(r["send"] + r["lat"] for r in measured) - min(r["send"] for r in measured)) if measured else 0
    e2e = {
        "ops_per_s": len(measured) / (span_ms / 1000) if span_ms > 0 else 0.0,
        "op_p50_ms": pct(lat, 50),
        "op_p95_ms": pct(lat, 95),
    }
    layer = {} if spec["workload"] != "serve_mixed" else {
        "write.p50_ms": pct([w["ack"] - w["due"] for w in http_writes], 50),
        "write.p95_ms": pct([w["ack"] - w["due"] for w in http_writes], 95),
        "push.p50_ms": pct(push_ms, 50),
        "push.p95_ms": pct(push_ms, 95),
        "pubsub.push_lag_ms_p95": pct(push_lag, 95),
        "loadgen.late_ms_p95": pct([w["send"] - w["due"] for w in writes if w["phase"] < 2], 95),
        "loadgen.late_ms_max": max([w["send"] - w["due"] for w in writes if w["phase"] < 2], default=0.0),
    }
    if "subscribers_end" in raw:
        layer["pubsub.subscribers_end"] = raw["subscribers_end"]
    if spec["trace"]:
        def p50(phase, stmt=None):
            return pct([r["lat"] for r in reads if r["phase"] == phase and r["ok"]
                        and (stmt is None or r["stmt"] == stmt)], 50)
        inproc = {}
        for stmt, ms in raw.get("inproc_request_ms", []):
            inproc.setdefault(int(stmt), []).append(ms)
        gaps = [p50(0, s) - pct(v, 50) for s, v in inproc.items() if p50(0, s) > 0]
        layer["http.overhead_ms"] = statistics.median(gaps) if gaps else 0.0
        layer["trace.overhead_frac"] = p50(1) / p50(0) - 1 if p50(0) > 0 else 0.0
    samples = {"op": len(lat), "writes": len(http_writes), "pushes": len(push_ms)}
    return e2e, layer, attempted, failed, samples


# ------------------------------------------------------------- batch_board

def evaluate_batch(spec, raw, con):
    gates = spec["gates"]
    want = {}
    for g, sql in zip(gates, raw["oracle_sql"]):
        try:
            want[g] = records(con, sql)
        except duckdb.Error as e:
            print(f"perfbench: oracle of {g} failed: {e}", file=sys.stderr)
    good = {}
    for bid, gi, text in raw["bodies"]:
        g = gates[gi]
        got = [json.loads(r) for r in text.split("\n")] if text else []
        good[bid] = g in want and same_rows(got, want[g], ordered=False)
        if not good[bid]:
            print(f"perfbench: {g} differs from its oracle ({len(got)} rows vs {len(want.get(g, []))})",
                  file=sys.stderr)
    runs = [dict(zip(("phase", "pass", "gate", "start", "wall", "answer", "error"), r)) for r in raw["gate_runs"]]
    for r in runs:
        r["ok"] = not r["error"] and good.get(r["answer"], False)
    measured = [r for r in runs if r["phase"] == 0 and r["ok"]]
    walls = [r["wall"] for r in measured]
    e2e = {
        "ops_per_s": len(walls) / (sum(walls) / 1000) if walls else 0.0,
        "op_p50_ms": pct(walls, 50),
        "op_p95_ms": pct(walls, 95),
    }
    layer = {}
    if spec["trace"]:
        ratios = []
        for g in spec["gates"]:
            base = [r["wall"] for r in measured if r["gate"] == g]
            tr = [r["wall"] for r in runs if r["phase"] == 1 and r["ok"] and r["gate"] == g]
            if base and tr:
                ratios.append(statistics.median(tr) / statistics.median(base))
        layer["trace.overhead_frac"] = statistics.mean(ratios) - 1 if ratios else 0.0
    passes = len({r["pass"] for r in measured})
    return e2e, layer, len(runs), sum(not r["ok"] for r in runs), {"op": len(walls), "passes": passes}


def evaluate(spec, raw):
    con = connect(spec["data_dir"])
    if spec["workload"] == "batch_board":
        e2e, layer, attempted, failed, samples = evaluate_batch(spec, raw, con)
    else:
        e2e, layer, attempted, failed, samples = evaluate_serve(spec, raw, con)
    e2e["setup_s"] = raw["session_s"] + statistics.median(raw["setup_runs_s"]) + raw["warmup_s"]
    e2e["heap_live_mb"] = raw["heap_live_mb"]
    layer.update(raw.get("layers", {}))
    if spec["workload"] == "batch_board":
        layer["entry.prebuild_s"] = statistics.median(raw["setup_runs_s"])
        layer["entry.warmup_s"] = raw["warmup_s"]
    layer["jvm.gc_ms"] = raw["gc_ms"]
    layer["jvm.codecache_mb"] = raw["codecache_mb"]
    return {
        "metrics": {k: float(v) for k, v in {**layer, **e2e}.items()},
        "attempted": attempted, "failed": failed, "samples": samples,
        "setup_runs_s": raw["setup_runs_s"], "session_s": raw["session_s"], "warmup_s": raw["warmup_s"],
    }


def print_summary(workload, result, listed):
    """Human summary: counts, the set-up split, sample sizes, the listed
    metrics, then any metric the benchmark's lists do not name."""
    s = result["samples"]
    print(f"workload {workload}: attempted {result['attempted']}, failed {result['failed']}, "
          f"failed_frac {result['failed'] / max(1, result['attempted']):.4f}")
    print(f"  setup: session {result['session_s']:.2f} s + median of set-ups "
          f"{', '.join(f'{x:.2f}' for x in result['setup_runs_s'])} s + warm-up {result['warmup_s']:.2f} s")
    print(f"  samples: {', '.join(f'{k} n={v}' for k, v in s.items())}")
    for name, m in listed.items():
        print(f"  {name:<32} {m['value']:14.4f} {m['unit']}")
    for name, v in sorted(result["unlisted"].items()):
        print(f"  {name:<32} {v:14.4f} (not in BENCHMARK.json)")
    print(f"  testdata fingerprint: {json.dumps(result['fingerprint'], sort_keys=True)}")
