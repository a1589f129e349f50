"""subscription_replay: a seeded raw event log replayed through a fixed
set of subscriptions (filter -> compiled define/pipeline/JSON template
-> sink payload), one caller, closed loop.

The engine only sees the generated parquet log. Every subscription's
output is forced through the CloudEvent JSON sink payload
(``sinks.event_row_to_cloudevent_json``) on the executors; the timed
pass keeps only a row count and an order-insensitive hash per
subscription. Correctness is checked untimed against a reference built
outside Spark with ``Transformer.execute_event`` and a Python twin of
each filter.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import statistics
import time

import numpy as np

from perfbench import harness

N_EVENTS = 10_000
N_USERS = 5_000
DATA_SCHEMA = "user_id long, value double, props struct<k: int>"
NOMINAL_PASS_S = 6.0  # one pass over every subscription, 4-core box

# Zipf-skewed event types (s = 1.1), most frequent first
EVENT_TYPES = [
    "view", "click", "search", "purchase", "cart_add", "login",
    "cart_remove", "signup", "share", "logout", "error", "refund",
]


def _tf(threshold: int, extra: str) -> dict:
    return {
        "define": {"u": "$.data.user_id"},
        "pipeline": [
            ["MATH_MUL", "$.data.value", "$.data.value", 100],
            ["CONDITION_IF", "$.data.tier", "$.data.value", ">=", threshold, "gold", "basic"],
        ],
        "template": '{"uid":<u>,"cents":<$.data.value>,"tier":"<$.data.tier>",'
                    '"cstr":"<$.data.value>","t":"<type>"' + extra + "}",
    }


# (name, filter spec, Python twin of the filter, transformer spec);
# selectivities run from about 1% to 50%
SUBSCRIPTIONS = [
    ("exact_purchase", {"exact": {"type": "purchase"}},
     lambda e: e["event_type"] == "purchase", _tf(50_000, "")),
    ("cesql_view_click", {"ce_sql": "type IN ('view', 'click') AND EXISTS partitionkey"},
     lambda e: e["event_type"] in ("view", "click"), _tf(90_000, "")),
    ("any_refund_or_cheap", {"any": [{"exact": {"type": "refund"}},
                                     {"cel": "$value.(double) < 10.0"}]},
     lambda e: e["event_type"] == "refund" or e["value"] < 10.0, _tf(500, "")),
    ("all_login_low_k", {"all": [{"prefix": {"type": "log"}},
                                 {"cel": "$props.k.(int64) < 10"}]},
     lambda e: e["event_type"].startswith("log") and e["k"] < 10, _tf(1_000, "")),
    ("cel_value_half", {"cel": "$value.(double) < 500.0"},
     lambda e: e["value"] < 500.0, _tf(25_000, ',"k":<$.data.props.k>')),
]


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def generate(seed: int, out_dir: str) -> list[dict]:
    """Write ``out_dir/events.parquet`` (the ``events`` table shape:
    event_id, ts, user_id, event_type, value, props JSON) and return
    the same rows as Python dicts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, len(EVENT_TYPES) + 1) ** 1.1
    types = rng.choice(len(EVENT_TYPES), size=N_EVENTS, p=w / w.sum())
    users = (rng.zipf(1.3, N_EVENTS) - 1) % N_USERS
    values = np.round(rng.uniform(0.0, 1000.0, N_EVENTS), 2)
    ks = rng.integers(0, 100, N_EVENTS)
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    gaps = np.cumsum(rng.integers(1, 5_000_000, N_EVENTS))  # µs
    rows = [
        {
            "event_id": i,
            "ts": base + dt.timedelta(microseconds=int(gaps[i])),
            "user_id": int(users[i]),
            "event_type": EVENT_TYPES[types[i]],
            "value": float(values[i]),
            "k": int(ks[i]),
        }
        for i in range(N_EVENTS)
    ]
    table = pa.table({
        "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
        "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
        "event_type": [r["event_type"] for r in rows],
        "value": pa.array([r["value"] for r in rows], pa.float64()),
        "props": [json.dumps({"k": r["k"]}) for r in rows],
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return rows


# ---------------------------------------------------------------------------
# executor-side sink payload
# ---------------------------------------------------------------------------

_MASK = (1 << 63) - 1


def _h(payload: str) -> int:
    return int.from_bytes(hashlib.blake2b(payload.encode(), digest_size=8).digest(), "big")


def sink_digest(batches):
    """Render each row's sink payload; keep only (count, hash sum)."""
    import pandas as pd

    from vanus_spark.sinks import event_row_to_cloudevent_json

    for pdf in batches:
        h = 0
        for r in pdf.to_dict("records"):
            h = (h + _h(event_row_to_cloudevent_json(r))) & _MASK
        yield pd.DataFrame({"n": [len(pdf)], "h": [h]})


def sink_payloads(batches):
    """Render each row's sink payload and return it."""
    import pandas as pd

    from vanus_spark.sinks import event_row_to_cloudevent_json

    for pdf in batches:
        yield pd.DataFrame({"payload": [event_row_to_cloudevent_json(r) for r in pdf.to_dict("records")]})


# ---------------------------------------------------------------------------
# plans
# ---------------------------------------------------------------------------

def subscription_output(spark, src_dir: str, sub):
    from vanus_spark.model import events_to_cloudevents
    from vanus_spark.sources.tables import load_table
    from vanus_spark.subscription import Subscription

    name, filters, _, tf = sub
    ce = events_to_cloudevents(load_table(spark, src_dir, "events"))
    return Subscription.from_spec({"filters": filters, "transformer": tf}).apply(
        ce, data_schema=DATA_SCHEMA
    )


def digest(out) -> tuple[int, int]:
    parts = out.mapInPandas(sink_digest, "n long, h long").collect()
    return sum(r.n for r in parts), sum(r.h for r in parts) & _MASK


def run_pass(spark, src_dir: str) -> list[tuple[int, int, dict]]:
    """One closed-loop pass: each subscription in turn, built and run
    to its sink payload. Returns (rows, hash, wall and CPU seconds) per
    subscription."""
    out = []
    for sub in SUBSCRIPTIONS:
        st = harness.stamp()
        n, h = digest(subscription_output(spark, src_dir, sub))
        out.append((n, h, harness.since(st)))
    return out


# ---------------------------------------------------------------------------
# correctness (untimed)
# ---------------------------------------------------------------------------

_SPEC_KEYS = ("id", "source", "specversion", "type", "datacontenttype", "dataschema", "subject")


def _canon(payload: str) -> str:
    return json.dumps(json.loads(payload), sort_keys=True)


def reference(rows: list[dict], sub) -> list[str]:
    """The subscription's sink payloads computed outside Spark."""
    from vanus_spark.sinks import event_row_to_cloudevent_json
    from vanus_spark.transformer import Transformer

    _, _, pred, spec = sub
    tf = Transformer(spec)
    out = []
    for e in rows:
        if not pred(e):
            continue
        attrs = {
            "id": str(e["event_id"]), "source": "/test/source", "specversion": "1.0",
            "type": e["event_type"], "datacontenttype": "application/json",
            "time": e["ts"].isoformat(), "partitionkey": str(e["user_id"]),
        }
        data = json.dumps({"user_id": e["user_id"], "value": e["value"], "props": {"k": e["k"]}})
        new_attrs, new_data, err = tf.execute_event(attrs, data)
        if err:
            raise AssertionError(f"reference transform failed for event {e['event_id']}")
        row = {k: new_attrs.get(k) for k in _SPEC_KEYS}
        row["time"] = e["ts"]
        row["attributes"] = {
            k: str(v) for k, v in new_attrs.items()
            if k not in _SPEC_KEYS and k != "time" and v is not None
        }
        row["data"] = new_data
        out.append(event_row_to_cloudevent_json(row))
    return out


def verify(spark, src_dir: str, rows: list[dict]) -> tuple[list, list[str]]:
    """Per subscription, Spark's payloads must equal the reference as a
    multiset. Returns the expected (rows, hash) per subscription (None
    where the check failed) and the failure messages."""
    from vanus_spark.plans import CompileFallback, compile_transformer

    expected, notes = [], []
    for sub in SUBSCRIPTIONS:
        name = sub[0]
        try:
            compile_transformer(sub[3], DATA_SCHEMA)  # must stay on the compiled path
            got = [r.payload for r in subscription_output(spark, src_dir, sub)
                   .mapInPandas(sink_payloads, "payload string").collect()]
            ref = reference(rows, sub)
        except (CompileFallback, AssertionError) as e:
            expected.append(None)
            notes.append(f"{name}: {e}")
            continue
        if sorted(map(_canon, got)) != sorted(map(_canon, ref)):
            expected.append(None)
            notes.append(f"{name}: {len(got)} rows vs reference {len(ref)}, payloads differ")
        else:
            expected.append((len(got), sum(_h(p) for p in got) & _MASK))
    return expected, notes


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------

class Replay:
    name = "subscription_replay"

    def __init__(self, seed: int):
        self.seed = seed
        self.src = os.path.join(harness.WORK, "replay")
        self.rows = generate(seed, self.src)
        self.sizes = {"events": N_EVENTS, "subscriptions": len(SUBSCRIPTIONS)}

    def first_action(self, spark) -> None:
        from vanus_spark.sources.tables import load_table

        load_table(spark, self.src, "events").count()

    def measure(self, spark, seconds: float, sampler) -> dict:
        passes = harness.reps_for(seconds, NOMINAL_PASS_S)
        # the untimed check runs every plan once, so it is also the
        # warm-up (Python workers started, generated code cached)
        t_check = time.perf_counter()
        expected, notes = verify(spark, self.src, self.rows)
        check_s = time.perf_counter() - t_check
        st = harness.stamp()
        timed = [run_pass(spark, self.src) for _ in range(passes)]
        window = harness.since(st)
        # an operation = one subscription in one timed pass: it fails if
        # its rows or hash differ from the checked payloads
        attempted, failed = passes * len(SUBSCRIPTIONS), 0
        for p in timed:
            for i, (n, h, _) in enumerate(p):
                if expected[i] != (n, h):
                    failed += 1
                    notes.append(f"{SUBSCRIPTIONS[i][0]}: timed pass gave {n} rows / hash {h}")
        items = N_EVENTS * len(SUBSCRIPTIONS) * passes
        return {
            "attempted": attempted, "failed": failed, "notes": notes,
            "items": items, "item_name": "event x subscription", "window": window,
            "ops": [c for p in timed for _, _, c in p], "op_name": "subscription job",
            "named": {"replay_events_per_s": (items / window["wall_s"], "1/s")},
            "detail": {"passes": passes, "check_s": check_s,
                       "rows_per_subscription": {s[0]: timed[0][i][0] for i, s in enumerate(SUBSCRIPTIONS)}},
        }

    # ----- traced run -------------------------------------------------------

    def traced_pass(self, spark, tracer) -> dict:
        """One pass with spans around each call into a layer."""
        from vanus_spark.model import events_to_cloudevents
        from vanus_spark.sources.tables import load_table
        from vanus_spark.subscription import Subscription

        with tracer.span(self.name) as root:
            for name, filters, _, tf in SUBSCRIPTIONS:
                with tracer.span(f"subscription[{name}]"):
                    with tracer.span("sources.load_table"):
                        src = load_table(spark, self.src, "events")
                    with tracer.span("model.events_to_cloudevents"):
                        ce = events_to_cloudevents(src)
                    with tracer.span("subscription.apply"):
                        out = Subscription.from_spec({"filters": filters, "transformer": tf}).apply(
                            ce, data_schema=DATA_SCHEMA)
                    with tracer.span("sinks.event_row_to_cloudevent_json"):
                        digest(out)
        return root

    def prefix_ladder(self, spark) -> dict:
        """Self time per layer from cumulative prefix plans, each forced
        through the noop sink: scan; + envelope; + filter; + define and
        pipeline; + template; + sink payload. ``compiler.build_s`` is the
        driver time inside ``compile_transformer``."""
        from pyspark.sql import functions as F

        from vanus_spark.filters import compile_filter
        from vanus_spark.model import events_to_cloudevents
        from vanus_spark.plans import compile_transformer
        from vanus_spark.sources.tables import load_table

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        steps = ["sources.scan_s", "model.envelope_s", "filters.self_s",
                 "compiler.self_s", "templates.self_s", "sinks.serialize_s"]
        self_s = dict.fromkeys(steps, 0.0)
        build_s, kept = 0.0, 0
        for name, filters, _, tf in SUBSCRIPTIONS:
            scan = load_table(spark, self.src, "events")
            ce = events_to_cloudevents(scan)
            filtered = ce.where(compile_filter(filters))
            transformed = compile_transformer({k: tf[k] for k in ("define", "pipeline")}, DATA_SCHEMA)(filtered)
            t0 = time.perf_counter()
            templated = compile_transformer(tf, DATA_SCHEMA)(filtered)
            build_s += time.perf_counter() - t0
            payload = templated.mapInPandas(sink_payloads, "payload string")
            times = [noop(scan), noop(ce), noop(filtered), noop(transformed), noop(templated), noop(payload)]
            prev = 0.0
            for step, t in zip(steps, times):
                self_s[step] += t - prev
                prev = t
            kept += templated.where(~F.col("transform_error")).count()
        out = dict(self_s)
        out["compiler.build_s"] = build_s
        out["filters.selectivity"] = kept / (N_EVENTS * len(SUBSCRIPTIONS))
        return out

    units = {
        "sources.scan_s": "s", "model.envelope_s": "s", "filters.self_s": "s",
        "filters.selectivity": "ratio", "compiler.build_s": "s", "compiler.self_s": "s",
        "templates.self_s": "s", "sinks.serialize_s": "s", "replay.scaleout": "ratio",
    }

    def traced(self, spark, tracer) -> tuple[dict, dict]:
        expected, notes = verify(spark, self.src, self.rows)  # also the warm-up
        # untraced passes either side of the traced one: the overhead is
        # measured against their mean
        untraced = [run_pass(spark, self.src)]
        root = self.traced_pass(spark, tracer)
        untraced.append(run_pass(spark, self.src))
        untraced_s = statistics.mean(sum(c["wall_s"] for _, _, c in p) for p in untraced)
        failed = sum(1 for p in untraced for i, (n, h, _) in enumerate(p) if expected[i] != (n, h))
        metrics = self.prefix_ladder(spark)
        n_core = N_EVENTS * len(SUBSCRIPTIONS) / untraced_s
        one_core = self.one_core_events_per_s(spark)
        metrics["replay.scaleout"] = n_core / one_core
        return metrics, {
            "root": root, "untraced_s": untraced_s, "ops": len(SUBSCRIPTIONS),
            "events_per_s": n_core, "events_per_s_1core": one_core,
            "attempted": 2 * len(SUBSCRIPTIONS), "failed": failed, "notes": notes,
        }

    def one_core_events_per_s(self, spark) -> float:
        """Single-threaded baseline: a new session in the same JVM with
        ``SPARK_GRAFT_CPUS=1``, one warm-up job (its Python workers are
        new; generated code is not), then one pass."""
        from vanus_spark import get_spark

        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_spark("perfbench-1core")
        digest(subscription_output(spark, self.src, SUBSCRIPTIONS[0]))
        t0 = time.perf_counter()
        run_pass(spark, self.src)
        return N_EVENTS * len(SUBSCRIPTIONS) / (time.perf_counter() - t0)
