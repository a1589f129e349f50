"""delivery_retry_stream: ``DeliveryLoop.run_stream`` over a file bus of
pre-written envelope files, one file per tick, until every event is
delivered or dead-lettered.

The transformer runs on the interpreter path (the loop passes no data
schema). The sink's status is a pure function of (event id, attempt):
most events succeed first time, a share answers 503 once and then 200,
a share answers 404 (dead, ``Response404``), and a share always answers
503 and exhausts ``max_retry_attempts`` (dead,
``MaxDeliveryAttemptExceeded``). The bus also carries delayed events
(``xvanusdeliverytime``) and malformed payloads (dead,
``TransformError``). The sink writes a receipt per send, so the check
can prove no event was lost or delivered twice.

Retry back-off is wall-clock (1 s for the first retry) and every tick
here takes longer than that, so each retry is due on the next tick and
the tick count is fixed: the data files plus one empty drain file.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import hashlib
import json
import os
import statistics
import time
import uuid

import numpy as np

from perfbench import harness

DATA_FILES = 2  # data ticks; the pending state grows on each
DRAIN_FILES = 1  # empty files whose ticks deliver the last retries
EVENTS_PER_FILE = 2_000
MAX_RETRY_ATTEMPTS = 1
DELAY_S = 3  # delayed events are due this long after the bus is written
NOMINAL_SCENARIO_S = 16.0  # one stream, first tick to drain, 4-core box
STREAM_TIMEOUT_S = 120

TRANSFORMER = {
    "pipeline": [
        ["MATH_MUL", "$.data.value", "$.data.value", 100],
        ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", 50_000, "gold", "basic"],
        ["UPPER_CASE", "$.data.tier"],
    ]
}

# outcome classes by share of events (per 100)
CLASSES = [
    ("ok", 55),
    ("retry_ok", 10),  # 503, then 200
    ("client_error", 5),  # 404 -> dead, Response404
    ("exhaust", 5),  # always 503 -> dead, MaxDeliveryAttemptExceeded
    ("delayed", 15),  # xvanusdeliverytime in the future, then 200
    ("malformed", 10),  # payload is not JSON -> dead, TransformError
]
DEAD_REASON = {
    "client_error": "Response404",
    "exhaust": "MaxDeliveryAttemptExceeded",
    "malformed": "TransformError",
}
_BOUNDS = np.cumsum([share for _, share in CLASSES])


def klass(event_id: str) -> str:
    """The outcome class of an event: a pure function of its id."""
    b = int.from_bytes(hashlib.blake2b(event_id.encode(), digest_size=4).digest(), "big") % 100
    return CLASSES[int(np.searchsorted(_BOUNDS, b, side="right"))][0]


def status(event_id: str, attempt: int) -> int:
    k = klass(event_id)
    if k == "client_error":
        return 404
    if k == "exhaust" or (k == "retry_ok" and attempt == 0):
        return 503
    return 200


def expected_sends(k: str) -> list[int]:
    """Statuses the sink returns for one event of class ``k``, in order."""
    return {
        "ok": [200], "delayed": [200], "retry_ok": [503, 200], "client_error": [404],
        "exhaust": [503] * (MAX_RETRY_ATTEMPTS + 1), "malformed": [],
    }[k]


class ReceiptSink:
    """The receiver: answers by ``status`` and appends one receipt line
    (id, attempt, status) per send to a file of its own."""

    def __init__(self, receipts_dir: str):
        self.receipts_dir = receipts_dir

    def __call__(self, rows):
        out, lines = [], []
        for r in rows:
            attempt = int((r.get("attributes") or {}).get("xvanusretryattempts", 0))
            s = status(r["id"], attempt)
            out.append(s)
            lines.append(f"{r['id']},{attempt},{s}\n")
        with open(os.path.join(self.receipts_dir, uuid.uuid4().hex), "w") as f:
            f.writelines(lines)
        return out


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def write_bus(seed: int, scenario: int, bus_dir: str) -> dict[str, str]:
    """Write the envelope files; return {event id: class}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, scenario])
    due = dt.datetime.fromtimestamp(time.time() + DELAY_S, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    classes: dict[str, str] = {}
    os.makedirs(bus_dir, exist_ok=True)
    for f in range(DATA_FILES + DRAIN_FILES):
        n = EVENTS_PER_FILE if f < DATA_FILES else 0
        ids = [f"{seed}-{scenario}-{f * EVENTS_PER_FILE + i}" for i in range(n)]
        users = rng.integers(0, 1000, n)
        values = np.round(rng.uniform(0, 1000, n), 2)
        attrs, data = [], []
        for i, eid in enumerate(ids):
            k = classes[eid] = klass(eid)
            a = [("partitionkey", str(users[i]))]
            if k == "delayed":
                a.append(("xvanusdeliverytime", due))
            attrs.append(a)
            body = {"user_id": int(users[i]), "value": float(values[i]), "props": {"k": int(users[i] % 100)}}
            data.append('{"user_id": ' if k == "malformed" else json.dumps(body))
        table = pa.table({
            "id": pa.array(ids, pa.string()),
            "source": pa.array(["/perfbench"] * n, pa.string()),
            "specversion": pa.array(["1.0"] * n, pa.string()),
            "type": pa.array([f"order.{k % 4}" for k in range(n)], pa.string()),
            "time": pa.array([base + dt.timedelta(seconds=i) for i in range(n)], pa.timestamp("us", tz="UTC")),
            "datacontenttype": pa.array(["application/json"] * n, pa.string()),
            "dataschema": pa.array([None] * n, pa.string()),
            "subject": pa.array([None] * n, pa.string()),
            "attributes": pa.array(attrs, pa.map_(pa.string(), pa.string())),
            "data": pa.array(data, pa.string()),
        })
        pq.write_table(table, os.path.join(bus_dir, f"part-{f:04d}.parquet"))
    return classes


# ---------------------------------------------------------------------------
# one stream
# ---------------------------------------------------------------------------

def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Scenario:
    """One delivery stream from a fresh loop to the drain."""

    def __init__(self, spark, seed: int, index: int):
        from vanus_spark.streaming.runner import DeliveryLoop
        from vanus_spark.subscription import Subscription

        self.spark = spark
        self.dir = os.path.join(harness.WORK, "delivery", f"s{index}")
        self.receipts = os.path.join(self.dir, "receipts")
        os.makedirs(self.receipts)
        sub = Subscription.from_spec(
            {"transformer": TRANSFORMER, "config": {"max_retry_attempts": MAX_RETRY_ATTEMPTS}}
        )
        self.loop = DeliveryLoop(spark, sub, ReceiptSink(self.receipts))
        self.classes = write_bus(seed, index, os.path.join(self.dir, "bus"))
        self.ticks: list[dict] = []  # per-tick state, traced runs only

    def run(self, tracer=None, parent=None) -> None:
        from vanus_spark.model import ENVELOPE_SCHEMA

        if tracer is not None:
            self._watch(tracer, parent)
        stream = (
            self.spark.readStream.schema(ENVELOPE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.dir, "bus"))
        )
        q = self.loop.run_stream(stream, os.path.join(self.dir, "checkpoint"))
        if not q.awaitTermination(timeout=STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"delivery stream did not drain within {STREAM_TIMEOUT_S} s")
        self.progress = list(q.recentProgress)
        first, last = self.progress[0], self.progress[-1]
        self.tick_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]
        self.wall_s = _ts(last["timestamp"]) + self.tick_s[-1] - _ts(first["timestamp"])

    def _watch(self, tracer, parent) -> None:
        """Time each process_batch call and sample the loop's state
        after it. This runs on the engine's callback thread, so it
        records spans without touching job groups."""
        loop, jsc, orig = self.loop, self.spark.sparkContext._jsc, self.loop.process_batch

        def process_batch(batch_df, batch_time, tick_seconds=1.0):
            t0 = time.time()
            res = orig(batch_df, batch_time, tick_seconds)
            t1 = time.time()
            tracer.add(f"runner.process_batch[{len(self.ticks)}]", t0, t1, parent)
            self.ticks.append({
                "tick": len(self.ticks),
                "process_batch_s": t1 - t0,
                "pending_partitions": loop.pending._jdf.rdd().getNumPartitions(),
                "dead_partitions": loop.dead._jdf.rdd().getNumPartitions(),
                "persistent_rdds": jsc.getPersistentRDDs().size(),
            })
            return res

        loop.process_batch = process_batch

    # ----- correctness (untimed) -------------------------------------------

    def verify(self) -> tuple[int, int, list[str]]:
        """Per event: the sends, the final outcome and any dead-letter
        reason must match the status function; plus one operation for
        the counter identities. Returns (attempted, failed, notes)."""
        from pyspark.sql import functions as F

        sends: dict[str, list[tuple[int, int]]] = {}
        for path in glob.glob(os.path.join(self.receipts, "*")):
            with open(path) as f:
                for line in f:
                    eid, attempt, s = line.rstrip("\n").split(",")
                    sends.setdefault(eid, []).append((int(attempt), int(s)))
        dead = {
            r.id: r.reason
            for r in self.loop.dead.select("id", F.col("attributes")["xvanusdlreason"].alias("reason")).collect()
        }
        pending = self.loop.pending.count()
        failed, notes = 0, []
        for eid, k in self.classes.items():
            got = [s for _, s in sorted(sends.get(eid, []))]
            attempts = sorted(a for a, _ in sends.get(eid, []))
            want_dead = DEAD_REASON.get(k)
            ok = (
                got == expected_sends(k)
                and attempts == list(range(len(got)))
                and dead.get(eid) == want_dead
            )
            if not ok:
                failed += 1
                if len(notes) < 5:
                    notes.append(f"event {eid} ({k}): sends {sends.get(eid)}, dead {dead.get(eid)}")
        unknown = (set(sends) | set(dead)) - set(self.classes)
        c = self.loop.prom_counters
        n = len(self.classes)
        n_dead = sum(1 for k in self.classes.values() if k in DEAD_REASON)
        retries = sum(len(expected_sends(k)) - 1 for k in self.classes.values() if k != "malformed")
        counters_ok = (
            not unknown
            and pending == 0
            and c["pull_event_number"] == n
            and c["pull_event_number"] == c["push_event_number"] + c["dead_letter_event_number"] + pending
            and c["dead_letter_event_number"] == n_dead == len(dead)
            and c["retry_event_number"] == retries
            and self.loop.delivered_count == n - n_dead
        )
        if not counters_ok:
            failed += 1
            notes.append(f"counters {c}, pending {pending}, dead rows {len(dead)}, unknown ids {len(unknown)}")
        return n + 1, failed, notes

    def summary(self) -> dict:
        m = self.loop.metrics
        return {
            "ticks": len(self.tick_s),
            "tick_s": self.tick_s,
            "wall_s": self.wall_s,
            "progress_ms": [p["durationMs"] for p in self.progress],
            "delivered": [t["delivered"] for t in m],
            "new_dead": [t["new_dead"] for t in m],
            "pending_rows": [t["pending"] for t in m],
            "state": self.ticks,
        }


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class Delivery:
    name = "delivery_retry_stream"

    def __init__(self, seed: int):
        self.seed = seed
        self.sizes = {
            "data_files": DATA_FILES, "drain_files": DRAIN_FILES,
            "events_per_file": EVENTS_PER_FILE, "max_retry_attempts": MAX_RETRY_ATTEMPTS,
            "class_shares_pct": dict(CLASSES),
        }
        self._scenarios = 0

    def first_action(self, spark) -> None:
        spark.range(1).count()

    def _warm(self, spark) -> None:
        """One throwaway tick (``process_batch`` on a small batch): starts
        the Python workers with the transformer and sink loaded and
        compiles the tick's plans. The JVM stays cold: the first stream
        of a session runs slower than later ones, and the timed stream
        is that first stream in every run."""
        from vanus_spark.streaming.runner import DeliveryLoop
        from vanus_spark.subscription import Subscription

        d = os.path.join(harness.WORK, "delivery", "warm")
        os.makedirs(d)
        write_bus(self.seed, 999, d)
        sub = Subscription.from_spec(
            {"transformer": TRANSFORMER, "config": {"max_retry_attempts": MAX_RETRY_ATTEMPTS}}
        )
        DeliveryLoop(spark, sub, ReceiptSink(d)).process_batch(
            spark.read.parquet(d).limit(200), dt.datetime.now(dt.timezone.utc)
        ).delivered.count()

    def _scenario(self, spark, tracer=None, parent=None) -> Scenario:
        s = Scenario(spark, self.seed, self._scenarios)
        self._scenarios += 1
        s.run(tracer, parent)
        return s

    def measure(self, spark, seconds: float, sampler) -> dict:
        self._warm(spark)
        runs = [self._scenario(spark) for _ in range(harness.reps_for(seconds, NOMINAL_SCENARIO_S))]
        attempted = failed = 0
        notes: list[str] = []
        for s in runs:
            a, f, n = s.verify()
            attempted, failed, notes = attempted + a, failed + f, notes + n
        # ticks run on the streaming engine's thread: their CPU is read
        # off the sampler's series between the tick's start and end
        ops, window = [], {"wall_s": 0.0, "cpu_s": 0.0}
        for s in runs:
            starts = [_ts(p["timestamp"]) for p in s.progress]
            for t0, dur in zip(starts, s.tick_s):
                ops.append({"wall_s": dur, "cpu_s": sampler.cpu_at(t0 + dur) - sampler.cpu_at(t0)})
            window["wall_s"] += s.wall_s
            window["cpu_s"] += sampler.cpu_at(starts[0] + s.wall_s) - sampler.cpu_at(starts[0])
        items = sum(len(s.classes) for s in runs)
        ticks = harness.summarize([o["wall_s"] for o in ops])
        return {
            "attempted": attempted, "failed": failed, "notes": notes,
            "items": items, "item_name": "event finalized", "window": window,
            "ops": ops, "op_name": "delivery tick",
            "named": {
                "delivery_events_per_s": (items / window["wall_s"], "1/s"),
                "tick_ms_p50": (ticks["p50"] * 1000, "ms"),
                "tick_ms_tail": (ticks["tail"] * 1000, "ms"),
            },
            "detail": {"scenarios": [s.summary() for s in runs]},
        }

    # ----- traced run -------------------------------------------------------

    units = {
        "transformer.self_s": "s", "transformer.events_per_s": "1/s",
        "delivery.sends_per_delivered": "ratio", "delivery.retried": "count",
        "delivery.dead": "count", "delivery.delayed": "count",
        "runner.jobs_per_tick": "count", "runner.pending_partitions_max": "count",
        "runner.tick_growth": "ratio", "runner.persistent_rdds_end": "count",
        "runner.progress.addBatch_ms": "ms", "runner.progress.getBatch_ms": "ms",
        "runner.progress.queryPlanning_ms": "ms", "runner.progress.walCommit_ms": "ms",
    }

    def transformer_probe(self, spark, bus_dir: str) -> dict:
        """Interpreter cost from two plans forced through the noop sink:
        the bus scan alone, and the scan plus ``Subscription.apply``."""
        from vanus_spark.subscription import Subscription

        sub = Subscription.from_spec({"transformer": TRANSFORMER})
        scan = spark.read.parquet(bus_dir)
        n = scan.count()
        times = []
        for df in (scan, sub.apply(scan)):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return {"transformer.self_s": times[1] - times[0], "transformer.events_per_s": n / times[1]}

    def traced(self, spark, tracer) -> tuple[dict, dict]:
        self._warm(spark)
        # the overhead is measured against the untraced stream just
        # before (one stream, not two, keeps the run short)
        untraced = self._scenario(spark)
        with tracer.span(self.name) as root:
            with tracer.span("runner.run_stream") as stream_span:
                s = self._scenario(spark, tracer, stream_span)
        # tick spans from the engine's own progress reports; each
        # process_batch span moves under the tick it ran in
        for i, p in enumerate(s.progress):
            start = _ts(p["timestamp"])
            tick = tracer.add(f"runner.tick[{i}]", start, start + s.tick_s[i], stream_span)
            for sp in tracer.spans:
                if sp["name"] == f"runner.process_batch[{i}]":
                    sp["parent"] = tick["id"]
        attempted = failed = 0
        notes: list[str] = []
        for run in (untraced, s):
            a, f, n = run.verify()
            attempted, failed, notes = attempted + a, failed + f, notes + n
        probe = self.transformer_probe(spark, os.path.join(s.dir, "bus"))
        c = s.loop.prom_counters
        classes = list(s.classes.values())
        sends = sum(len(expected_sends(k)) for k in classes)
        delivered = s.loop.delivered_count
        metrics = {
            **probe,
            "delivery.sends_per_delivered": sends / delivered,
            "delivery.retried": c["retry_event_number"],
            "delivery.dead": c["dead_letter_event_number"],
            # parked after the first tick, less that tick's retries
            "delivery.delayed": s.loop.metrics[0]["pending"] - sum(
                1 for k in classes[:EVENTS_PER_FILE] if k in ("retry_ok", "exhaust")),
            "runner.pending_partitions_max": max(t["pending_partitions"] for t in s.ticks),
            "runner.tick_growth": s.tick_s[-1] / s.tick_s[0],
            "runner.persistent_rdds_end": s.ticks[-1]["persistent_rdds"],
        }
        for k in ("addBatch", "getBatch", "queryPlanning", "walCommit"):
            metrics[f"runner.progress.{k}_ms"] = statistics.mean(p["durationMs"].get(k, 0) for p in s.progress)
        return metrics, {
            "root": root, "untraced_s": untraced.wall_s, "ops": len(s.tick_s),
            "attempted": attempted, "failed": failed, "notes": notes,
            "per_tick": s.summary(), "after_attribution": functools.partial(self._tick_jobs, s),
        }

    @staticmethod
    def _tick_jobs(scenario: Scenario, spans: list[dict]) -> dict:
        """After event-log attribution: Spark jobs per tick, also added
        to the per-tick state record."""
        ticks = [sp for sp in spans if sp["name"].startswith("runner.tick[")]
        by_parent: dict[str, int] = {}
        for sp in spans:
            by_parent[sp["parent"]] = by_parent.get(sp["parent"], 0) + sp["spark_jobs"]
        jobs = [t["spark_jobs"] + by_parent.get(t["id"], 0) for t in ticks]
        for state, n in zip(scenario.ticks, jobs):
            state["jobs"] = n
        return {"runner.jobs_per_tick": statistics.mean(jobs)}
