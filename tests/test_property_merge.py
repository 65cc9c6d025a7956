"""Property-based merge testing: ANY sequence of I/U/D events over a
tiny key space, split into arbitrary batches under arbitrary
cow/mor modes, must converge to the same state as a trivial
last-writer-wins dict model. Hypothesis shrinks failures to minimal
counterexamples — the cheapest path to corner cases (equal
timestamps, delete-first streams, single-key floods, replays)."""

import tempfile

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cityofphiladelphia_databridge_etl_tools_spark.lake import LakeTable

EVENT = st.tuples(
    st.sampled_from(["a", "b", "c"]),          # conv_id
    st.integers(min_value=0, max_value=1),     # turn_idx
    st.sampled_from(["I", "U", "D"]),          # op
    st.integers(min_value=0, max_value=4),     # ts (seconds)
)


def model_replay(events):
    """The spec: per key keep the max-(ts, lsn) event; D erases."""
    best = {}
    for lsn, (conv, turn, op, ts) in enumerate(events):
        k = (conv, turn)
        if k not in best or (ts, lsn) > (best[k][0], best[k][1]):
            best[k] = (ts, lsn, op)
    return {
        k: (ts, lsn)
        for k, (ts, lsn, op) in best.items()
        if op != "D"
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(EVENT, min_size=1, max_size=14),
    cuts=st.lists(st.integers(min_value=1, max_value=13), max_size=2),
    modes=st.lists(st.sampled_from(["cow", "mor"]), min_size=3, max_size=3),
    replay_batch0=st.booleans(),
)
def test_any_stream_matches_lww_model(spark, events, cuts, modes, replay_batch0):
    rows = [
        (conv, turn, "r", f"text-{lsn}", None, ts, lsn, op)
        for lsn, (conv, turn, op, ts) in enumerate(events)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_s int, lsn long, op string"
    )
    df = (
        spark.createDataFrame(rows, schema)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .drop("ts_s")
    )
    from pyspark.sql import types as T

    payload = T.StructType([f for f in df.schema.fields if f.name != "op"])
    t = LakeTable.create(
        spark, tempfile.mkdtemp() + "/t", payload,
        ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=2,
    )
    bounds = sorted({c for c in cuts if c < len(events)}) + [len(events)]
    lo = 0
    for i, hi in enumerate(bounds):
        if hi <= lo:
            continue
        batch = df.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        t.merge_batch(batch, f"b{i}", mode=modes[i % len(modes)])
        lo = hi
    if replay_batch0 and bounds[0] > 0:
        # duplicate delivery of an already-committed batch id → no-op
        assert t.merge_batch(df.filter(F.col("lsn") < bounds[0]), "b0") is None

    got = {
        (r["conv_id"], r["turn_idx"]): (int(r["ts"].timestamp()), r["lsn"])
        for r in t.read().collect()
    }
    assert got == model_replay(events)


# tie-heavy events: a tiny (ts, lsn) space, so later batches repeat a
# key's (key, ts, lsn) with a different payload (text, or even op) and
# only the payload-hash tiebreak of the LWW order picks the winner
TIE_EVENT = st.tuples(
    st.sampled_from(["a", "b", "c"]),          # conv_id
    st.just(0),                                # turn_idx
    st.sampled_from(["I", "U", "D"]),          # op
    st.integers(min_value=0, max_value=1),     # ts (seconds)
    st.integers(min_value=0, max_value=1),     # lsn
    st.integers(min_value=0, max_value=3),     # text variant
)
TIE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts_s int, lsn long, op string"
)


def _tie_rows(spark, events):
    rows = [
        (conv, turn, "r", f"text-{v}", None, ts, lsn, op)
        for conv, turn, op, ts, lsn, v in events
    ]
    return (
        spark.createDataFrame(rows, TIE_SCHEMA)
        .withColumn("ts", F.timestamp_seconds(F.col("ts_s")))
        .drop("ts_s")
    )


def _state(t):
    return sorted(t.read(include_deleted=True).collect())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    events=st.lists(TIE_EVENT, min_size=4, max_size=12),
    cuts=st.lists(st.integers(min_value=1, max_value=11), min_size=1, max_size=2),
    modes=st.lists(st.sampled_from(["cow", "mor"]), min_size=3, max_size=3),
)
def test_tie_heavy_stream_matches_single_batch(spark, events, cuts, modes):
    """LWW is a max over ONE total order (order columns, then a hash
    of the stored columns), and a max is associative: any cut of the
    stream into cow/mor batches reads back exactly like one merge of
    the whole stream, and compact()/rebucket() never change it."""
    from pyspark.sql import types as T

    batches = []
    lo = 0
    for hi in sorted({c for c in cuts if c < len(events)}) + [len(events)]:
        if hi > lo:
            batches.append(events[lo:hi])
            lo = hi
    payload = T.StructType([f for f in _tie_rows(spark, events[:1]).schema.fields if f.name != "op"])

    def table():
        return LakeTable.create(
            spark, tempfile.mkdtemp() + "/t", payload,
            ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=2,
        )

    single = table()
    single.merge_batch(_tie_rows(spark, events), "all")
    expected = _state(single)

    t = table()
    for i, batch in enumerate(batches):
        t.merge_batch(_tie_rows(spark, batch), f"b{i}", mode=modes[i % len(modes)])
    assert _state(t) == expected
    t.compact()
    assert _state(t) == expected
    t.rebucket(3)
    assert _state(t) == expected
