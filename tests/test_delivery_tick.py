"""How a delivery tick runs: the transformer and the sink run once per
event, and the loop's state (partitions, checkpoints, files) stays flat
however many ticks have run. Logical timestamps, in-memory envelopes."""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

import pytest

from vanus_spark.streaming.fanout import TriggerWorker
from vanus_spark.streaming.runner import DeliveryLoop
from vanus_spark.subscription import Subscription

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
FAR = "2999-01-01T00:00:00Z"  # delayed events stay parked, on any clock
SCHEMA = (
    "id string, source string, specversion string, type string, "
    "time timestamp, datacontenttype string, dataschema string, "
    "subject string, attributes map<string,string>, data string"
)
TRANSFORMER = {"pipeline": [["MATH_MUL", "$.data.w", "$.data.v", 2]]}


def _batch(spark, ids):
    rows = [
        (str(i), "/s", "1.0", "t", T0, "application/json", None, None,
         {"xvanusdeliverytime": FAR} if i % 2 else {},
         "not-json{" if i % 10 == 4 else '{"v":1}')
        for i in ids
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _status(event_id: str, attempt: int) -> int:
    i = int(event_id)
    if i % 10 == 2:
        return 404
    if i % 10 == 6 or (i % 10 == 0 and attempt == 0):
        return 503
    return 200


class StatusSink:
    """Status is a pure function of (id, attempt)."""

    def __call__(self, rows):
        return [
            _status(r["id"], int((r["attributes"] or {}).get("xvanusretryattempts", 0)))
            for r in rows
        ]


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _partitions(df) -> int:
    return df._jdf.rdd().getNumPartitions()


def _run_ticks(spark, loop, on_tick):
    for t in range(6):
        ids = range(t * 40, (t + 1) * 40) if t < 4 else []
        loop.process_batch(_batch(spark, ids), T0 + dt.timedelta(seconds=10 * t))
        on_tick(t)


def test_in_memory_state_stays_flat(spark):
    """Pending and dead stay at most defaultParallelism wide, and the
    loop's live checkpoints are the same number after tick 2 as after
    tick 6 (each tick releases the ones it replaced)."""
    width = spark.sparkContext.defaultParallelism
    sub = Subscription.from_spec({"transformer": TRANSFORMER, "config": {"max_retry_attempts": 2}})
    loop = DeliveryLoop(spark, sub, StatusSink())
    before = _persistent_ids(spark)
    held = {}

    def on_tick(t):
        assert _partitions(loop.pending) <= width, t
        assert _partitions(loop.dead) <= width, t
        held[t] = len(_persistent_ids(spark) - before)

    _run_ticks(spark, loop, on_tick)
    assert held[1] == held[5]
    # 80 delayed events parked; 4 x (4 x 404, 4 x exhausted 503, 4 malformed)
    assert loop.pending.count() == 80
    assert loop.dead.count() == 48


def test_durable_pending_files_stay_bounded(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    sub = Subscription.from_spec({"transformer": TRANSFORMER, "config": {"max_retry_attempts": 2}})
    loop = DeliveryLoop(spark, sub, StatusSink(), state_dir=str(tmp_path))

    def on_tick(t):
        for d in glob.glob(str(tmp_path / "pending_e*")):
            assert len(glob.glob(os.path.join(d, "*.parquet"))) <= width, (t, d)
        assert _partitions(loop.pending) <= width, t

    _run_ticks(spark, loop, on_tick)
    assert loop.pending.count() == 80
    assert loop.dead.count() == 48


# ---------------------------------------------------------------------------
# one transform, one send per event
# ---------------------------------------------------------------------------


def _lines(d) -> list[str]:
    out = []
    for path in glob.glob(os.path.join(d, "*")):
        with open(path) as f:
            out.extend(f.read().split())
    return sorted(out)


@pytest.fixture
def probe(tmp_path):
    """A custom action that writes one file per call (naming the event),
    and a sink that writes one file per call (naming every row)."""
    from vanus_spark.actions.interp import _REGISTRY, register

    calls, sends = str(tmp_path / "calls"), str(tmp_path / "sends")
    os.makedirs(calls)
    os.makedirs(sends)

    @register("TICK_PROBE", 0)
    def _probe(args, ctx):
        with open(os.path.join(calls, uuid.uuid4().hex), "w") as f:
            f.write(ctx.attrs["id"])

    class CountingSink(StatusSink):
        def __call__(self, rows):
            with open(os.path.join(sends, uuid.uuid4().hex), "w") as f:
                f.write(" ".join(r["id"] for r in rows))
            return super().__call__(rows)

    yield calls, sends, CountingSink()
    _REGISTRY.pop("TICK_PROBE", None)


PROBE_SPEC = {"transformer": {"pipeline": [["TICK_PROBE"], ["MATH_MUL", "$.data.w", "$.data.v", 2]]}}


def test_run_stream_tick_transforms_and_sends_once(spark, tmp_path, probe):
    calls, sends, sink = probe
    ids = [str(i) for i in range(20)]
    src = str(tmp_path / "bus")
    _batch(spark, range(20)).coalesce(1).write.parquet(src)
    loop = DeliveryLoop(spark, Subscription.from_spec(PROBE_SPEC), sink)
    q = loop.run_stream(spark.readStream.schema(SCHEMA).parquet(src), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    # malformed payloads fail before the pipeline runs; delayed ones park
    assert _lines(calls) == sorted(i for i in ids if int(i) % 10 != 4)
    assert _lines(sends) == sorted(i for i in ids if int(i) % 2 == 0 and int(i) % 10 != 4)
    assert loop.prom_counters == {
        "pull_event_number": 20, "push_event_number": 2,
        "retry_event_number": 4, "dead_letter_event_number": 4,
    }
    assert loop.metrics[0]["pending"] == 14


def test_fanout_results_reread_without_recompute(spark, probe, caplog):
    """After TriggerWorker.process_batch releases the shared batch,
    every SinkResult frame reads again without the interpreter or the
    sink running again; each loop logs its tick at DEBUG."""
    calls, sends, sink = probe
    w = TriggerWorker(spark)
    w.register("a", PROBE_SPEC, sink)
    w.register("b", {**PROBE_SPEC, "filters": [{"exact": {"type": "t"}}]}, sink)
    with caplog.at_level("DEBUG", logger="vanus_spark.streaming.runner"):
        results = w.process_batch(_batch(spark, range(20)), T0)
    for res in results.values():
        for df in (res.delivered, res.pending, res.dead, res.retried):
            df.collect()
            df.count()
    ids = [str(i) for i in range(20)]
    assert _lines(calls) == sorted(2 * [i for i in ids if int(i) % 10 != 4])
    assert _lines(sends) == sorted(2 * [i for i in ids if int(i) % 2 == 0 and int(i) % 10 != 4])
    counts = {"pulled": 20, "delivered": 2, "dead": 4, "retry": 4, "pending": 14}
    assert {k: r.counts for k, r in results.items()} == {"a": counts, "b": counts}
    assert [r.getMessage() for r in caplog.records] == [
        f"{k} tick epoch=1 pulled=20 delivered=2 dead=4 retry=4 pending=14 "
        f"pending_partitions={w.loops[k].pending._jdf.rdd().getNumPartitions()}"
        for k in "ab"
    ]
