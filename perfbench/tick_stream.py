"""Workload ``tick_stream``: a catch-up replay of the tick feed through
the reference topology, with a dashboard client reading the sink table.

Inputs (all from the seed). The feed has the shape of the program's
own tick source, ``sources.ticks.ticks()`` over the testdata ``events``
table (event_type -> ticker, value -> price, props.k -> volume),
measured on the sf0.1 table:

* ``TICKERS``: its 5 event types, uniform (each holds 19.8-20.3% of
  the rows at sf0.01 and at sf0.1; no skew).
* Poisson(``TICKS_PER_MIN``) ticks per event minute (100,000 events
  over 30 days; 10% of its minutes are empty); one JSON file holds
  ``MIN_PER_FILE`` minutes, shuffled inside the file. Prices are
  exponential with mean ``PRICE_MEAN`` (value: mean 49.9, median
  34.8), volumes uniform in 0..``VOLUME_MAX`` (props.k), sentiments on
  the grid of ``ai_sentiment_expr`` with ``ai_summary_expr``'s labels.
* Stated choices, not measured (the events table is in event-time
  order and has no late rows): ``LATE_SHARE`` of the ticks of each
  file's last minute arrive in the next file (out of order, inside the
  10-minute watermark); the last file carries ``TOO_LATE_TICKS`` ticks
  ``TOO_LATE_MIN`` minutes old, older than the watermark.
* ``--seconds`` files are in the feed directory before the queries
  start: a backlog, as after an outage or a restart, read through
  ``max_files_per_trigger=FILES_PER_TRIGGER``.
  Every run therefore splits the feed into the same micro-batches,
  whatever the host's speed: a closed loop over a fixed amount of work.
* The sink table starts with ``HISTORY_MIN`` minutes of earlier rows,
  ending before the oldest too-late tick (one txlog append, part of
  set-up).

Topology (examples/run_streaming_pipeline.py): one file stream read;
joined metrics -> ``txlog.stream_sink``; the stateful spike stream ->
``sinks.foreach_batch_upsert``. Both queries run concurrently. When
each has committed the micro-batch that read the last file, they stop
and one closed-loop dashboard client issues ``N_READS`` version-pinned
``read_where`` reads against the sink table.

Checks: the joined sink equals ``tumbling_1m -> with_sma_5m ->
join_metrics`` over the ticks the stream admitted (``_check_joined``),
for every window final by the last committed micro-batch; the spike
sink equals ``with_volume_spike(tumbling_1m(...))`` over the feed
without its too-late ticks (``_check_spikes`` names the windows it
leaves out); every dashboard read equals the same query evaluated on
the files of its pinned version.
"""

from __future__ import annotations

import json
import math
import os
import random
import threading
import time
from collections import defaultdict

from perfbench.harness import median, summary, tree_cpu_s

TICKERS = ("click", "error", "purchase", "signup", "view")
TICKS_PER_MIN = 100_000 / (30 * 24 * 60)
PRICE_MEAN = 50.0
VOLUME_MAX = 99
LATE_SHARE = 0.10
TOO_LATE_MIN = 120                     # more minutes than a run's feed spans
TOO_LATE_TICKS = 2
MIN_PER_FILE = 4
FILES_PER_TRIGGER = 4
N_READS = 4
HISTORY_MIN = 60
HISTORY_END_MIN = -TOO_LATE_MIN - 1    # history windows end before this minute
BASE_EPOCH_S = 1_704_187_800          # 2024-01-02 09:30:00 UTC
DRAIN_TIMEOUT_S = 120.0
READ_MIX = (("overview", 0.3), ("tickers", 0.2), ("ticker", 0.5))
SETUP_REPS = 2

JOINED_COLS = ("ticker", "window_end", "window_start", "latest_price",
               "high_price_1m", "total_volume_1m", "total_value_1m",
               "ai_sentiment", "ai_summary", "sma_5m")
SPIKE_FLOAT_COLS = ("total_value_1m", "avg_volume_10m")


def inputs() -> dict:
    return {"tickers": len(TICKERS), "ticker_skew": "uniform",
            "ticks_per_event_minute": TICKS_PER_MIN,
            "files": "--seconds", "event_minutes_per_file": MIN_PER_FILE,
            "max_files_per_trigger": FILES_PER_TRIGGER,
            "out_of_order_share": LATE_SHARE,
            "too_late_ticks_in_last_file": TOO_LATE_TICKS,
            "too_late_minutes": TOO_LATE_MIN,
            "dashboard_reads": N_READS,
            "history_minutes": HISTORY_MIN,
            "read_mix": dict(READ_MIX)}


def _poisson(rng: random.Random, lam: float) -> int:
    n, p, stop = 0, rng.random(), math.exp(-lam)
    while p > stop:
        n += 1
        p *= rng.random()
    return n


def _sentiment(rng: random.Random) -> tuple[float, str]:
    s = rng.randrange(2001) / 1000.0 - 1.0
    return s, "bullish" if s > 0.3 else "bearish" if s < -0.3 else "neutral"


def _iso(ms: int) -> str:
    s, frac = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{frac:03d}Z"


class Feed:
    """The seeded tick feed: file ``i`` holds event-time minutes
    ``MIN_PER_FILE * i`` .. ``MIN_PER_FILE * (i + 1) - 1`` (minute 0 =
    BASE_EPOCH_S) plus the late ticks described above."""

    def __init__(self, seed: int, n_files: int, too_late_in: int):
        rng = random.Random(seed)
        self.tickers = list(TICKERS)

        def tick(m: int, off_ms: int) -> dict:
            sent, summ = _sentiment(rng)
            ms = (BASE_EPOCH_S + m * 60) * 1000 + off_ms
            return {"ticker": rng.choice(self.tickers), "ts": _iso(ms),
                    "price": round(rng.expovariate(1 / PRICE_MEAN), 2),
                    "volume": rng.randint(0, VOLUME_MAX),
                    "ai_sentiment": sent, "ai_summary": summ, "_min": m, "_ms": ms}

        carry: list[dict] = []
        self.files: list[list[dict]] = []
        self.too_late: set[tuple[str, int]] = set()
        for i in range(n_files):
            rows, nxt = list(carry), []
            for m in range(MIN_PER_FILE * i, MIN_PER_FILE * (i + 1)):
                # only the file's last minute spills into the next file,
                # so a file never holds ticks older than the minute
                # before its own; distinct ms offsets inside the minute
                # keep max_by ties out
                last = m == MIN_PER_FILE * (i + 1) - 1
                for off in rng.sample(range(1, 60_000), _poisson(rng, TICKS_PER_MIN)):
                    (nxt if last and rng.random() < LATE_SHARE else rows).append(tick(m, off))
            if i == too_late_in:
                for _ in range(TOO_LATE_TICKS):
                    r = tick(MIN_PER_FILE * i - TOO_LATE_MIN, 0) | {"_too_late": True}
                    rows.append(r)
                    self.too_late.add((r["ticker"], i))
            rng.shuffle(rows)
            self.files.append(rows)
            carry = nxt

    def write(self, feed_dir: str, i: int) -> str:
        p = os.path.join(feed_dir, f"m{i:05d}.json")
        tmp = os.path.join(feed_dir, f".m{i:05d}.json.tmp")
        with open(tmp, "w") as f:
            for r in self.files[i]:
                f.write(json.dumps({k: v for k, v in r.items()
                                    if not k.startswith("_")}) + "\n")
        os.replace(tmp, p)
        return p

    def n_ticks(self, files) -> int:
        return sum(len(self.files[i]) for i in files)


class SinkGate:
    """Wraps each query's foreachBatch function to time its sink calls
    (``commits``: query -> batch id -> (start, end)). ``close`` waits
    for a running sink call to end; a sink call after it returns
    without writing, so stopping the queries never cuts a commit."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.commits: dict[str, dict[int, tuple[float, float]]] = {"joined": {}, "spikes": {}}
        self._cv = threading.Condition()
        self._active = 0
        self._closed = False

    def wrap(self, fn, key: str, layer: str, name: str):
        def run_batch(df, batch_id):
            with self._cv:
                if self._closed:
                    return
                self._active += 1
            try:
                with self.tracer.span(None, layer, name, batch_id=batch_id) as s:
                    fn(df, batch_id)
                self.commits[key][batch_id] = (s["start"], time.time())
            finally:
                with self._cv:
                    self._active -= 1
                    self._cv.notify_all()
        return run_batch

    def close(self) -> None:
        with self._cv:
            self._cv.wait_for(lambda: self._active == 0)
            self._closed = True


class Dashboard:
    """One closed-loop client: the reference dashboard's reads
    (app.py:28-36, 70, 79-95) as version-pinned ``read_where`` calls on
    the sink table."""

    def __init__(self, spark, tracer, root: str, seed: int, tickers: list[str]):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.rng = random.Random(seed * 7 + 1)
        self.tickers = tickers
        self.ops: list[dict] = []

    def _op(self):
        r, acc = self.rng.random(), 0.0
        for kind, share in READ_MIX:
            acc += share
            if r < acc:
                break
        if kind == "overview":
            return kind, f"window_end >= TIMESTAMP '{_iso(BASE_EPOCH_S * 1000)[:-5]}'"
        if kind == "tickers":
            start = (BASE_EPOCH_S + (HISTORY_END_MIN - HISTORY_MIN) * 60) * 1000
            return kind, f"window_end >= TIMESTAMP '{_iso(start)[:-5]}'"
        t = self.rng.choice(self.tickers)
        return kind, f"ticker = '{t}'"

    def run(self, n: int) -> None:
        from pyspark.sql import functions as F

        from gcp_data_engineering_workshop_spark.sources import txlog as T
        for _ in range(n):
            kind, cond = self._op()
            with self.tracer.span(self.spark, "dashboard", kind):
                t0 = time.time()
                v = T.snapshot(self.root)["version"]
                with self.tracer.span(self.spark, "sources.txlog", "read_where"):
                    df = T.read_where(self.spark, self.root, cond, version=v)
                t1 = time.time()
                if kind == "overview":
                    df = df.orderBy(F.col("window_end").desc(), "ticker").limit(50)
                elif kind == "tickers":
                    df = df.select("ticker").distinct()
                else:
                    df = df.orderBy(F.col("window_end").desc()).limit(100)
                with self.tracer.span(self.spark, "sources.txlog", "read_exec"):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.time()
            self.ops.append({"kind": kind, "cond": cond, "version": v,
                             "rows": rows, "cols": df.columns,
                             "call_s": t1 - t0, "exec_s": t2 - t1,
                             "total_s": t2 - t0})


def _history_rows(seed: int, tickers: list[str]):
    import pandas as pd
    rng = random.Random(seed * 13 + 5)
    rows = []
    for m in range(HISTORY_END_MIN - HISTORY_MIN, HISTORY_END_MIN - 1):
        for t in tickers:
            ws = pd.Timestamp((BASE_EPOCH_S + m * 60) * 10**9)
            p = round(rng.uniform(10, 200), 2)
            v = rng.randint(1, 5000)
            rows.append((t, ws + pd.Timedelta(minutes=1), ws, p, p, v,
                         round(p * v, 4), 0.0, "neutral", p))
    return pd.DataFrame(rows, columns=list(JOINED_COLS))


def _stream_ddl() -> str:
    return ("ticker string, window_end timestamp, window_start timestamp, "
            "latest_price double, high_price_1m double, total_volume_1m bigint, "
            "total_value_1m double, ai_sentiment double, ai_summary string, "
            "sma_5m double")


def _batch_files(ckpt: str) -> dict[int, list[int]]:
    """batch id -> feed file indices, from the file source's log."""
    d = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if not name.isdigit():
            continue
        idx = []
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    base = os.path.basename(json.loads(line)["path"])
                    idx.append(int(base[1:6]))
        out[int(name)] = idx
    return out


def _ms(v) -> int:
    """Timestamp (datetime / pandas / arrow) -> epoch milliseconds."""
    if hasattr(v, "timestamp"):
        return round(v.timestamp() * 1000)
    return int(v)


def _norm(row) -> tuple:
    return tuple(_ms(x) if hasattr(x, "timestamp") else x for x in row)


def _ms_row(r: dict) -> dict:
    return dict(zip(r, _norm(r.values())))


def run(spark_session, tracer, ws, seed: int, seconds: int) -> dict:
    """Set up, replay ``seconds`` files of backlog, read, check."""
    from gcp_data_engineering_workshop_spark.sources import txlog as T

    n_files = max(2 * FILES_PER_TRIGGER, seconds)
    feed = Feed(seed, n_files, too_late_in=n_files - 1)
    root = ws.path("sink_table")
    rep = [0]

    def build_state(spark):
        # the starting state: the sink table with earlier history
        rep[0] += 1
        r = ws.path(f"sink_table_{rep[0]}")
        hist = spark.createDataFrame(_history_rows(seed, feed.tickers), _stream_ddl())
        with tracer.span(spark, "sources.txlog", "append"):
            T.append(hist, r)
        return r

    table = spark_session.setup(SETUP_REPS, build_state)
    os.rename(table, root)
    return _replay(spark_session.spark, tracer, ws, feed, root, seed)


def _replay(spark, tracer, ws, feed: Feed, root: str, seed: int) -> dict:
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from gcp_data_engineering_workshop_spark.sources import txlog as T
    from gcp_data_engineering_workshop_spark.streaming import pipeline as spl
    from gcp_data_engineering_workshop_spark.streaming import sinks
    from gcp_data_engineering_workshop_spark.streaming.state import (
        stateful_spike_stream)

    feed_dir, spk_dir = ws.path("feed"), ws.path("spikes")
    ck_j, ck_s = ws.path("ck_joined"), ws.path("ck_spikes")
    os.makedirs(feed_dir)
    n_files = len(feed.files)
    # the file source reads files in modification-time order: one second
    # apart, in event-time order, as a live feed would have left them
    t_mod = time.time() - n_files - 1
    for i in range(n_files):
        path = feed.write(feed_dir, i)
        os.utime(path, (t_mod + i, t_mod + i))
    gate = SinkGate(tracer)
    commits = gate.commits

    with tracer.span(spark, "streaming.pipeline", "read_tick_stream"):
        stream = spl.read_tick_stream(spark, feed_dir,
                                      max_files_per_trigger=FILES_PER_TRIGGER)
    with tracer.span(spark, "streaming.pipeline", "joined_metrics_stream"):
        joined = spl.joined_metrics_stream(stream)
    with tracer.span(spark, "streaming.state", "stateful_spike_stream"):
        spiked = stateful_spike_stream(stream)

    t_start = time.time()
    cpu0 = tree_cpu_s()
    q_j = (joined.writeStream.option("checkpointLocation", ck_j)
           .foreachBatch(gate.wrap(T.stream_sink(root, app_id="joined"), "joined",
                                   "sources.txlog", "stream_sink"))
           .start())
    # foreach_batch_upsert builds its own batch function: wrap it on its
    # way into foreachBatch so the sink can be timed from outside
    orig = DataStreamWriter.foreachBatch
    DataStreamWriter.foreachBatch = lambda self, fn: orig(
        self, gate.wrap(fn, "spikes", "streaming.sinks", "foreach_batch_upsert"))
    try:
        q_s = sinks.foreach_batch_upsert(spiked, spk_dir, ck_s,
                                         key_cols=("ticker", "window_start"))
    finally:
        DataStreamWriter.foreachBatch = orig
    try:
        # stop once each query has committed (and reported the progress
        # of) the micro-batch that read the last file; later
        # micro-batches read no files
        def committed(q, ck, key):
            b = _batch_of(ck, n_files - 1)
            return (b in commits[key] and q.lastProgress is not None
                    and q.lastProgress.batchId >= b)
        drained = _wait_for(lambda: committed(q_j, ck_j, "joined")
                            and committed(q_s, ck_s, "spikes"), DRAIN_TIMEOUT_S)
    finally:
        t_cond = time.time()
        gate.close()
        progress = {"joined": [json.loads(p.json) for p in q_j.recentProgress],
                    "spikes": [json.loads(p.json) for p in q_s.recentProgress]}
        for q in (q_j, q_s):
            q.stop()
    t_end = time.time()
    cpu1 = tree_cpu_s()
    dash = Dashboard(spark, tracer, root, seed, feed.tickers)
    dash.run(N_READS)

    files_of = {"joined": _batch_files(ck_j), "spikes": _batch_files(ck_s)}
    res = _measure(feed, progress, commits, files_of, root, spk_dir, t_start)
    res["checks"] = {"drained": drained}
    res["checks"].update(_check_joined(spark, feed_dir, ck_j, files_of["joined"],
                                       res.pop("_joined_rows"), max(commits["joined"])))
    res["checks"].update(_check_spikes(spark, feed, feed_dir, files_of["spikes"],
                                       res.pop("_spike_rows")))
    res["checks"].update(_check_reads(root, dash.ops))
    c = res["checks"]
    c["all_ok"] = bool(c["drained"] and c["joined_ok"] and c["spike_ok"] and c["reads_ok"])
    res["progress"] = progress
    res["dash_ops"] = dash.ops
    res["files_of"] = files_of
    res["commits"] = commits
    res["wall_s"] = t_end - t_start
    res["stream_cpu_s"] = cpu1 - cpu0
    res["timeline"] = {"stop_cond": t_cond - t_start, "stopped": t_end - t_start,
                       "commits": {k: {b: (round(a - t_start, 2), round(e - t_start, 2))
                                       for b, (a, e) in v.items()}
                                   for k, v in commits.items()}}
    res["root"] = root
    return res


def _epoch(ts: str) -> float:
    """StreamingQueryProgress timestamp (ISO, UTC) -> epoch seconds."""
    import datetime as dt
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _batch_of(ckpt: str, f: int) -> int | None:
    """The id of the micro-batch that read feed file ``f``, if any."""
    return next((b for b, fs in _batch_files(ckpt).items() if f in fs), None)


def _wait_for(cond, timeout_s: float) -> bool:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            return False
        time.sleep(0.05)
    return True


def _spike_cutoffs(feed: Feed, files_of: dict) -> dict[str, int]:
    """stateful_spike_stream has no late-data rule: a tick older than a
    ticker's open window closes that window early and enters the volume
    history. From the micro-batch holding a ticker's first such tick on
    (the window open at that batch's start may be one minute older than
    the first minute of its first file), the ticker's windows follow the
    detector, not the reference semantics. Returns ticker -> first
    window minute left out of the spike check."""
    batch_of = {f: b for b, fs in files_of.items() for f in fs}
    out: dict[str, int] = {}
    for t, m in feed.too_late:
        if m in batch_of:
            cut = MIN_PER_FILE * min(files_of[batch_of[m]]) - 1
            out[t] = min(out.get(t, cut), cut)
    return out


def _watermarks(ckpt: str) -> dict[int, int]:
    """batch id -> batchWatermarkMs, from the query's offset log."""
    d = os.path.join(ckpt, "offsets")
    out = {}
    for name in os.listdir(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                f.readline()
                out[int(name)] = json.loads(f.readline())["batchWatermarkMs"]
    return out


def _minute(ms: int) -> int:
    return (ms // 1000 - BASE_EPOCH_S) // 60


def _read_parquet_rows(paths) -> list[dict]:
    import pyarrow.parquet as pq
    out: list[dict] = []
    for p in paths:
        out += pq.read_table(p).to_pylist()
    return out


def _measure(feed, progress, commits, files_of, root, spk_dir, t_start) -> dict:
    """Micro-batch times and the replay drain, and the sink rows for the
    checks."""
    from gcp_data_engineering_workshop_spark.sources import txlog as T

    joined_rows = []
    prev = set()
    for h in T.history(root):
        files = set(T.snapshot(root, h["version"])["files"])
        if h.get("app_id") == "joined":
            for r in _read_parquet_rows(os.path.join(root, p) for p in sorted(files - prev)):
                joined_rows.append(_ms_row(r))
        prev = files

    import pyarrow.dataset as pds
    spike_rows = [_ms_row(r) for r in
                  pds.dataset(spk_dir, format="parquet").to_table().to_pylist()]

    # a micro-batch's time: from its trigger to the end of its sink
    # call, for every micro-batch that read files
    batch_s = {}
    for key, prog in progress.items():
        for p in prog:
            b = p["batchId"]
            if files_of[key].get(b) and b in commits[key]:
                batch_s[(key, b)] = commits[key][b][1] - _epoch(p["timestamp"])
    # drain: from query start to the later of the two commits covering
    # the last file
    last = len(feed.files) - 1
    done = max(commits[k][min(b for b, fs in files_of[k].items() if last in fs)][1]
               for k in commits)
    return {"batch_s": batch_s, "drain_s": done - t_start,
            "n_files": len(feed.files), "ticks": feed.n_ticks(range(len(feed.files))),
            "_joined_rows": joined_rows, "_spike_rows": spike_rows}


def _twin_ticks(spark, feed_dir, keep_after_ms: dict[int, int]):
    """The feed as a batch DataFrame, keeping from file ``f`` only the
    ticks with event time (ms) above ``keep_after_ms[f]``."""
    from pyspark.sql import functions as F

    from gcp_data_engineering_workshop_spark.streaming.pipeline import TICK_SCHEMA
    t = spark.read.schema(TICK_SCHEMA).json(feed_dir)
    f = F.regexp_extract(F.input_file_name(), r"m(\d{5})\.json", 1).cast("int")
    thr = F.create_map(*[F.lit(x) for kv in sorted(keep_after_ms.items()) for x in kv])
    return t.where(F.unix_millis("ts") > thr[f])


def _rows_ms(df) -> list[dict]:
    return [_ms_row(r.asDict()) for r in df.collect()]


def _check_joined(spark, feed_dir, ckpt, files_of, rows, last_batch) -> dict:
    """The joined sink equals the batch twin over the ticks the stream
    admitted, for every window final by the last committed batch (its
    end at or below that batch's batchWatermarkMs). Spark filters late
    events against the previous batch's watermark (chained stateful
    operators), so a tick read in batch b is dropped iff its event time
    is at or below batch b-1's batchWatermarkMs."""
    from gcp_data_engineering_workshop_spark.operators.windows import (
        join_metrics, tumbling_1m, with_sma_5m)
    wm = _watermarks(ckpt)
    keep = {f: wm.get(b - 1, 0) for b, fs in files_of.items() for f in fs}
    base = tumbling_1m(_twin_ticks(spark, feed_dir, keep))
    twin = _rows_ms(join_metrics(base, with_sma_5m(base)).select(*JOINED_COLS))
    want = {(r["ticker"], r["window_end"]): tuple(r[c] for c in JOINED_COLS)
            for r in twin if r["window_end"] <= wm[last_batch]}
    got: dict = {}
    dup = 0
    for r in rows:
        k = (r["ticker"], r["window_end"])
        dup += k in got
        got[k] = tuple(r[c] for c in JOINED_COLS)
    bad = [k for k in want if got.get(k) != want[k]]
    extra = [k for k in got if k not in want]
    return {"joined_windows": len(want), "joined_mismatch": len(bad),
            "joined_extra": len(extra), "joined_dup": dup,
            "joined_first_diffs": [(k[0], _minute(k[1]), got.get(k), want.get(k))
                                   for k in (bad + extra)[:3]],
            "joined_ok": bool(want) and not bad and not extra and dup == 0}


def _close(a, b) -> bool:
    return a == b or (a is not None and b is not None
                      and abs(a - b) <= 1e-9 * max(abs(a), abs(b)))


def _check_spikes(spark, feed, feed_dir, files_of, rows) -> dict:
    """Every final window (all but each ticker's last) appears once with
    the values of the batch twin over the feed without its too-late
    ticks, except the windows ``_spike_cutoffs`` leaves out. The
    detector sums total_value in float while the twin sums decimals, so
    total_value_1m and avg_volume_10m are compared at 1e-9 relative;
    everything else is exact."""
    from gcp_data_engineering_workshop_spark.operators.anomaly import with_volume_spike
    from gcp_data_engineering_workshop_spark.operators.windows import tumbling_1m
    on_time = {f: (BASE_EPOCH_S + (MIN_PER_FILE * f - 1) * 60) * 1000 - 1
               for fs in files_of.values() for f in fs}
    twin = _rows_ms(with_volume_spike(tumbling_1m(_twin_ticks(spark, feed_dir, on_time)))
                    .drop("_price_sum", "_price_cnt"))
    last = {}
    for r in twin:
        last[r["ticker"]] = max(last.get(r["ticker"], 0), r["window_start"])
    cut = _spike_cutoffs(feed, files_of)
    got = defaultdict(list)
    for r in rows:
        got[(r["ticker"], r["window_start"])].append(r)
    checked = skipped = bad = 0
    for w in twin:
        k = (w["ticker"], w["window_start"])
        if w["window_start"] == last[w["ticker"]]:
            continue  # still open in the detector
        if _minute(w["window_start"]) >= cut.get(w["ticker"], 1 << 30):
            skipped += 1
            continue
        checked += 1
        g = got.get(k, [])
        if len(g) != 1 or not all(
                _close(g[0][c], w[c]) if c in SPIKE_FLOAT_COLS else g[0][c] == w[c]
                for c in w):
            bad += 1
    return {"spike_windows": checked, "spike_skipped_late": skipped,
            "spike_mismatch": bad, "spike_ok": checked > 0 and bad == 0}


def _check_reads(root, ops) -> dict:
    """Each dashboard read equals its query evaluated in Python over
    the parquet files live at its pinned version."""
    from gcp_data_engineering_workshop_spark.sources import txlog as T
    cache: dict[str, list[dict]] = {}

    def table(v):
        rows = []
        for p in T.snapshot(root, v)["files"]:
            if p not in cache:
                cache[p] = [_ms_row(r) for r in _read_parquet_rows([os.path.join(root, p)])]
            rows += cache[p]
        return rows

    bad, diffs = 0, []
    for op in ops:
        rows = table(op["version"])
        kind = op["kind"]
        if kind == "overview":
            sel = [r for r in rows if r["window_end"] >= BASE_EPOCH_S * 1000]
            sel.sort(key=lambda r: (-r["window_end"], r["ticker"]))
            want = [tuple(r[c] for c in JOINED_COLS) for r in sel[:50]]
        elif kind == "tickers":
            lo = (BASE_EPOCH_S + (HISTORY_END_MIN - HISTORY_MIN) * 60) * 1000
            want = sorted({(r["ticker"],) for r in rows if r["window_end"] >= lo})
        else:
            t = op["cond"].split("'")[1]
            sel = sorted((r for r in rows if r["ticker"] == t),
                         key=lambda r: -r["window_end"])
            want = [tuple(r[c] for c in JOINED_COLS) for r in sel[:100]]
        got = [_norm(r) for r in op["rows"]]
        if kind == "tickers":
            got = sorted(got)
        if got != want:
            bad += 1
            diffs.append({"kind": kind, "cond": op["cond"], "version": op["version"],
                          "n_got": len(got), "n_want": len(want),
                          "got_only": [g for g in got if g not in want][:2],
                          "want_only": [w for w in want if w not in got][:2]})
    return {"reads": len(ops), "read_mismatch": bad, "read_first_diffs": diffs[:2],
            "reads_ok": len(ops) > 0 and bad == 0}


# -- metrics ------------------------------------------------------------

def _progress_layer(progress: list[dict], files_of: dict, n_files: int,
                    commits: dict, groups: dict | None) -> dict:
    """Per-query layer metrics from StreamingQueryProgress records."""
    dur = [p["durationMs"] for p in progress]
    batch_s = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    state = [p.get("stateOperators") or [] for p in progress]
    # backlog at each sink call: files not read up to and including
    # that batch
    backlog = [n_files - sum(len(fs) for bb, fs in files_of.items() if bb <= b)
               for b in commits]
    out = {
        "batch_s_p50": median(batch_s),
        "batch_s_tail": summary(batch_s)["tail"],
        "add_batch_s": median(d.get("addBatch", 0) / 1e3 for d in dur),
        "query_planning_s": median(d.get("queryPlanning", 0) / 1e3 for d in dur),
        "offsets_s": median((d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
                            for d in dur),
        "wal_commit_s": median((d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                               for d in dur),
        "batches": float(len(progress)),
        "state_rows_max": float(max((sum(o.get("numRowsTotal", 0) for o in s)
                                     for s in state), default=0)),
        "state_bytes_max": float(max((sum(o.get("memoryUsedBytes", 0) for o in s)
                                      for s in state), default=0)),
        "rows_dropped_by_watermark": float(sum(
            o.get("numRowsDroppedByWatermark", 0) for s in state for o in s)),
        "backlog_files_max": float(max(backlog, default=0)),
    }
    run_ids = {p["runId"] for p in progress}
    if groups is not None and progress:
        tasks = sum(g["tasks"] for k, g in groups.items() if k in run_ids)
        out["tasks_per_batch"] = tasks / len(progress)
    return out


def metrics(res: dict, tracer, groups: dict | None) -> tuple[dict, dict, dict]:
    """(end-to-end values, per-layer values, details) for this run.
    Latency is per micro-batch that read files (both queries): from its
    trigger to the end of its sink call; with fewer than eleven such
    micro-batches the tail is the maximum."""
    bs = summary(res["batch_s"].values())
    e2e = {"latency_p50_s": bs["p50"], "latency_tail_s": bs["tail"],
           "throughput_per_s": res["n_files"] / res["drain_s"]}
    layer: dict[str, float] = {}
    for key, name in (("joined", "streaming.pipeline"), ("spikes", "streaming.state")):
        for k, v in _progress_layer(res["progress"][key], res["files_of"][key],
                                    res["n_files"], res["commits"][key],
                                    groups).items():
            layer[f"{name}.{k}"] = v
    up = [s_["end"] - s_["start"] for s_ in tracer.of("streaming.sinks", "foreach_batch_upsert")]
    sc = [s_["end"] - s_["start"] for s_ in tracer.of("sources.txlog", "stream_sink")]
    layer["streaming.sinks.upsert_s_p50"] = median(up)
    layer["streaming.sinks.upsert_s_tail"] = summary(up)["tail"]
    layer["sources.txlog.stream_commit_s_p50"] = median(sc)
    layer["sources.txlog.stream_commit_s_tail"] = summary(sc)["tail"]
    ops = res["dash_ops"]
    rd = [o["total_s"] for o in ops]
    layer["dash.read_s_p50"] = median(rd)
    layer["dash.read_s_tail"] = summary(rd)["tail"]
    layer["sources.txlog.read_call_s"] = median(o["call_s"] for o in ops)
    layer["sources.txlog.read_exec_s"] = median(o["exec_s"] for o in ops)
    layer["sources.txlog.append_s"] = median(
        s_["end"] - s_["start"] for s_ in tracer.of("sources.txlog", "append"))
    from gcp_data_engineering_workshop_spark.sources import txlog as T
    layer["sources.txlog.files_live_end"] = float(len(T.snapshot(res["root"])["files"]))
    layer["sources.txlog.log_versions"] = float(len(T.history(res["root"])))
    if groups is not None:
        # the sink's jobs run in the stream thread, under the query's
        # run-id job group: count those that start inside a sink call
        j_ids = {p["runId"] for p in res["progress"]["joined"]}
        spans = tracer.of("sources.txlog", "stream_sink")
        n = sum(1 for k, g in groups.items() if k in j_ids
                for a, _b in g["intervals"]
                if any(sp["start"] <= a <= sp["end"] for sp in spans))
        layer["sources.txlog.jobs_per_commit.stream_append"] = n / max(1, len(spans))
        reads = tracer.of("sources.txlog", "read_where") + tracer.of("sources.txlog", "read_exec")
        layer["sources.txlog.jobs_per_read"] = sum(r.get("jobs", 0) for r in reads) / max(1, len(ops))
    details = {
        "batch_latency": bs,
        "batch_s": {f"{k}.{b}": v for (k, b), v in sorted(res["batch_s"].items())},
        "drain_s": res["drain_s"], "files": res["n_files"], "ticks": res["ticks"],
        "drain_ticks_per_s": res["ticks"] / res["drain_s"],
        "dash_read": summary(rd),
        "dash_read_by_kind": {k: summary([o["total_s"] for o in ops if o["kind"] == k])
                              for k, _ in READ_MIX},
        "stream_wall_s": res["wall_s"], "stream_cpu_s": res["stream_cpu_s"],
        "timeline": res["timeline"],
        "batches": {k: [(p["batchId"], p["numInputRows"],
                         p["durationMs"].get("triggerExecution", 0) / 1e3,
                         res["files_of"][k].get(p["batchId"], []))
                        for p in res["progress"][k]] for k in res["progress"]},
        "checks": res["checks"],
    }
    return e2e, layer, details


def attempted_failed(res: dict) -> tuple[int, int]:
    """Ops are micro-batches (both queries) and dashboard reads."""
    n_batches = sum(len(v) for v in res["commits"].values())
    return n_batches + len(res["dash_ops"]), 0
