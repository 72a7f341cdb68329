"""sensor_serving: the reference's detector endpoints, Events API and
copy-log, served over HTTP and driven in an open loop.

One generator (this process) sends requests on a fixed schedule,
through at most `nproc` worker threads and connections, whether or not
earlier ones have finished; latency is timed from each request's due
time, so a stall shows in the requests queued behind it. The schedule
and the kinds of request are the same in every run, so every run offers
the same load; the seed picks the stored events, the appended batches
and the sensor ids. The mix:

- GET detector reads (out_of_range, rate_of_change, timeout, z_score,
  iqr) over the live event store;
- GET consumer reads (monitor_logs, get_anomalies) of the copy-log
  materialization;
- POST /v0/events of 100-row NDJSON batches;
- MaterializedCopyLog.tick() at a fixed interval, in-process.

Reads, appends and ticks share the store and the cores, so a change
that speeds one at the cost of another shows here.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from statistics import median, quantiles

import numpy as np

from harness import WORK, Recorder, Tally, cores

SENSORS = 300
DAYS = 30
READINGS_PER_DAY = 4
APPEND_ROWS = 100
# (first due offset, interval) in s. With run_seconds = 20 that is 8
# reads, 4 appends and 2 ticks. A tick takes about 4-6 s, so about half
# of the reads and appends meet one, at the same point of the schedule
# in every run. Rates stay well below saturation, where queueing turns a
# small change in machine speed into a large change in latency: on 4
# cores, with a read every 2 s and a tick every 7 s, latency moved 2-3x
# as much as set-up time between runs, and with a read every 1.4 s,
# runs whose set-up was 27 % slower read 2x slower.
READS = (0.5, 2.5)
APPENDS = (1.0, 5.0)
TICKS = (0.5, 10.0)

DETECTOR_PIPES = ("out_of_range", "rate_of_change", "timeout", "z_score", "iqr")
CONSUMER_PIPES = ("monitor_logs", "get_anomalies")
PIPES = DETECTOR_PIPES + CONSUMER_PIPES
ANOMALY_TYPES = (
    "out-of-range", "rate-of-change", "timeout", "z-score", "interquartile-range",
)
T0 = np.datetime64("2024-01-01T00:00:00", "s")


def write_store(path, seed: int) -> int:
    """Seeded `incoming_data` in the store's own schema (id int, ts
    timestamp, value float, event_id long): per-sensor random walks with
    planted spikes, and a tenth of the sensors stopping early."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    per = DAYS * READINGS_PER_DAY
    step = 86400 // READINGS_PER_DAY
    ids, ts, vals = [], [], []
    for s in range(SENSORS):
        n = per if rng.random() > 0.1 else int(per * rng.uniform(0.5, 0.9))
        off = np.arange(n) * step + rng.integers(0, step // 2, n)
        v = 500.0 + np.cumsum(rng.normal(0.0, 2.0, n))
        spikes = rng.random(n) < 0.01
        v[spikes] += rng.choice([-400.0, 600.0], spikes.sum())
        ids.append(np.full(n, s, np.int32))
        ts.append(T0 + off.astype("timedelta64[s]"))
        vals.append(v.astype(np.float32))
    ids, ts, vals = np.concatenate(ids), np.concatenate(ts), np.concatenate(vals)
    order = np.argsort(ts, kind="stable")
    table = pa.table({
        "id": ids[order],
        "ts": pa.array(ts[order].astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        "value": vals[order],
        "event_id": np.arange(len(ids), dtype=np.int64),
    })
    path.mkdir(parents=True)
    pq.write_table(table, path / "part-00000.parquet")
    return len(ids)


class Traffic:
    """The seeded request mix. Appended events continue the stream after
    the stored history, one batch after another."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed + 1)
        self.next_ts = T0 + np.timedelta64(DAYS * 86400, "s")

    def read(self, k: int) -> tuple[str, dict]:
        """The k-th GET: the pipes in turn. Which parameters a request
        carries is fixed by k, so every seed offers the same kinds of
        query; the seed picks the sensor ids."""
        pipe = PIPES[k % len(PIPES)]
        cycle = k // len(PIPES)
        if pipe == "get_anomalies":
            return pipe, {"anomaly_type": ANOMALY_TYPES[cycle % len(ANOMALY_TYPES)]}
        params = {"max_value": 900} if pipe == "out_of_range" else {}
        if pipe == "monitor_logs" or cycle % 2:
            params["sensor_id"] = int(self.rng.integers(SENSORS))
        return pipe, params

    def batch(self) -> str:
        r = self.rng
        lines = []
        for _ in range(APPEND_ROWS):
            self.next_ts += np.timedelta64(int(r.integers(1, 60)), "s")
            v = 500.0 + r.normal(0.0, 20.0) + (700.0 if r.random() < 0.02 else 0.0)
            lines.append(json.dumps({
                "id": int(r.integers(SENSORS)),
                "timestamp": str(self.next_ts).replace("T", " "),
                "value": f"{v:.3f}",
            }))
        return "\n".join(lines)

    def schedule(self, seconds: float) -> list[tuple[float, str]]:
        """(due offset, kind): a fixed-rate open loop, so every run
        offers the same load and only the data and parameters vary with
        the seed."""
        out = []
        for kind, (first, every) in (
            ("read", READS), ("append", APPENDS), ("tick", TICKS),
        ):
            out += [(float(t), kind) for t in np.arange(first, seconds, every)]
        return sorted(out)


def _url(port: int, pipe: str, params: dict) -> str:
    q = "&".join(f"{k}={v}" for k, v in params.items())
    return f"http://127.0.0.1:{port}/v0/pipes/{pipe}.json" + (f"?{q}" if q else "")


def _get(port: int, pipe: str, params: dict) -> dict:
    with urllib.request.urlopen(_url(port, pipe, params), timeout=120) as r:
        return json.loads(r.read())


def _post(port: int, body: str) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/v0/events?name=incoming_data",
        data=body.encode(), method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def _canonical(rows: list) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


class SensorServing:
    name = "sensor_serving"

    def __init__(self, seed: int):
        self.seed = seed
        self.traffic = Traffic(seed)
        self.appended = 0
        self.lock = threading.Lock()  # guards appended, tick_rows and last_params
        self.last_params: dict[str, dict] = {}

    # -- set-up -------------------------------------------------------------

    def setup(self, spark) -> None:
        self.stored = write_store(WORK / "events", self.seed)
        self._open(spark)
        # prime the copy log, as the serving CLI does
        self._warm_up(self.copy_log.tick)

    def rebind(self, spark) -> None:
        """Re-open the same store and copy log on a new Spark context, and
        warm it up like set-up did."""
        self._open(spark)
        self._warm_up()

    def _open(self, spark) -> None:
        from use_case_real_time_anomaly_detection_spark.serving import (
            AnalyticsAPIServer,
            EventStore,
            MaterializedCopyLog,
        )

        self.store = EventStore(spark, str(WORK / "events"))
        self.copy_log = MaterializedCopyLog(self.store, str(WORK / "copy_log"))
        self.server = AnalyticsAPIServer(self.store, copy_log=self.copy_log).start()

    def _warm_up(self, *extra) -> None:
        """Untimed: one request of each kind (and `extra` calls), nproc at
        a time."""
        warm = [self.traffic.read(k) for k in range(len(PIPES))]
        with ThreadPoolExecutor(max_workers=cores()) as pool:
            done = [pool.submit(f) for f in extra]
            done.append(pool.submit(self._append, self.traffic.batch()))
            done += [pool.submit(self._read, *w) for w in warm]
            for f in done:
                f.result()

    def close(self) -> None:
        self.server.shutdown()

    def _read(self, pipe: str, params: dict) -> dict:
        with self.lock:
            self.last_params[pipe] = params
        return _get(self.server.port, pipe, params)

    def _append(self, body: str) -> int:
        got = _post(self.server.port, body)["successful_rows"]
        with self.lock:
            self.appended += got
        return got

    # -- measured phase -----------------------------------------------------

    def measure(self, seconds: float, rec: Recorder, tally: Tally) -> dict:
        """Play the schedule for `seconds`, then drain. Every request is a
        span of its own (serving.read.<pipe>, serving.append), so a job
        that an HTTP handler thread launches is charged to the request
        when nothing else is open, and to .untagged when something is.
        Returns the gated metrics (read latency from due time, mean;
        append latency from due time, median; tick duration, median) and
        the table's: read percentiles and per-pipe medians, sample
        counts, copy-log rows per tick, and how late the generator ran."""
        plan, reads = [], 0
        for offset, kind in self.traffic.schedule(seconds):
            if kind == "read":
                payload, reads = self.traffic.read(reads), reads + 1
            else:
                payload = self.traffic.batch() if kind == "append" else None
            plan.append((offset, kind, payload))
        lat = {"read": [], "append": [], "tick": []}
        per_pipe: dict[str, list] = {}
        late = []

        def do(kind: str, payload, due: float):
            try:
                if kind == "read":
                    with rec.span(f"serving.read.{payload[0]}"):
                        ok = "data" in self._read(*payload)
                elif kind == "append":
                    with rec.span("serving.append"):
                        ok = self._append(payload) == APPEND_ROWS
                else:
                    due = time.time()  # a tick's duration, not its lateness
                    with rec.span("serving.tick"):
                        rows = self.copy_log.tick()
                    with self.lock:
                        self.tick_rows += rows
                    ok = True
            except Exception as exc:  # the generator keeps going; counted failed
                tally.op(False, f"{kind}: {type(exc).__name__}: {exc}")
                return
            done = time.time()
            if tally.op(ok, f"{kind} returned a bad body"):
                lat[kind].append(done - due)
                if kind == "read":
                    per_pipe.setdefault(payload[0], []).append(done - due)

        self.tick_rows = 0
        start = time.time()
        with ThreadPoolExecutor(max_workers=cores()) as pool:
            futures = []
            for offset, kind, payload in plan:
                due = start + offset
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                late.append(time.time() - due)
                futures.append(pool.submit(do, kind, payload, due))
            for f in futures:
                f.result()
        reads, appends, ticks = lat["read"], lat["append"], lat["tick"]
        return {
            "primary_s": sum(reads) / len(reads),
            "secondary_s": median(appends),
            "persist_s": median(ticks),
            "serve.read_p50_s": median(reads),
            "serve.read_p90_s": quantiles(reads, n=10, method="inclusive")[-1],
            "reads": len(reads),
            "appends": len(appends),
            "ticks": len(ticks),
            "serving.tick_rows": self.tick_rows / len(ticks),
            "generator_late_max_s": max(late) if late else 0.0,
            **{f"serve.read.{p}_s": median(v) for p, v in sorted(per_pipe.items())},
        }

    # -- output checks ------------------------------------------------------

    def check_outputs(self, rec: Recorder, tally: Tally) -> None:
        """After the run quiesces: one more append in-process; every pipe's
        HTTP response equals a direct in-process call on the same store;
        the store holds every row appended; the copy log has no duplicate
        key. Each call is a span, so a traced run times the layers apart:
        Pipe.builder (plans.detectors, including the frontier collect),
        response_envelope (plans.envelope) and the HTTP round trip. A
        traced run makes the calls one at a time, so that each span's
        wall time and Spark jobs are its own."""
        from pyspark.sql import functions as F

        from use_case_real_time_anomaly_detection_spark.plans.envelope import (
            response_envelope,
        )

        pipes = self.server.pipes
        with rec.span("serving.store.append"):
            self.appended += self.store.append_ndjson(self.traffic.batch())[0]

        def same(pipe: str, params: dict) -> bool:
            try:
                with rec.span(f"serving.http.{pipe}"):
                    http = self._read(pipe, params)["data"]
            except urllib.error.URLError:
                return False
            bound = pipes[pipe].bind({k: [str(v)] for k, v in params.items()})
            with rec.span(f"plans.detectors.{pipe}"):
                df = pipes[pipe].builder(self.store, bound)
            with rec.span(f"plans.envelope.{pipe}"):
                direct = response_envelope(df)["data"]
            return _canonical(http) == _canonical(json.loads(json.dumps(direct, default=str)))

        last = sorted(self.last_params.items())
        with ThreadPoolExecutor(max_workers=1 if rec.tag_jobs else cores()) as pool:
            results = list(pool.map(lambda kv: same(*kv), last))
        for (pipe, _), ok in zip(last, results):
            tally.check(ok, f"{pipe} over HTTP differs from the in-process call")
        n = self.store.events().count()
        tally.check(n == self.stored + self.appended,
                    f"store holds {n} rows, expected {self.stored}+{self.appended}")
        dups = (
            self.copy_log.log().groupBy("ts", "id", "anomaly_type")
            .agg(F.count(F.lit(1)).alias("n")).filter("n > 1").count()
        )
        tally.check(dups == 0, f"copy log has {dups} duplicate keys")

    def warm_headline(self, untraced: dict) -> float:
        """The untraced phase already ran warm."""
        return untraced["primary_s"]

    def layers(self, rows: dict) -> dict:
        from ledger import per_call, rollup

        call = f"{self.name}."

        def per_pipe(layer: str, field: str = "wall_s") -> list[float]:
            return [per_call(rows, f"{call}{layer}.{p}", field) for p in sorted(self.last_params)]

        build, collect = per_pipe("plans.detectors"), per_pipe("plans.envelope")
        return {
            "driver.build_s": median(build),
            "driver.build_jobs": median(per_pipe("plans.detectors", "jobs")),
            "persist.call_s": per_call(rows, call + "serving.tick", "wall_s"),
            "persist.jobs": per_call(rows, call + "serving.tick", "jobs"),
            "checkpoint.resume_tasks": 0.0,
            "plans.envelope.collect_s": median(collect),
            "serving.http_overhead_s": median(
                h - b - c for h, b, c in zip(per_pipe("serving.http"), build, collect)),
            "serving.append_s": per_call(rows, call + "serving.store.append", "wall_s"),
            "serving.append_jobs": per_call(rows, call + "serving.store.append", "jobs"),
            **rollup(rows, call),
        }
