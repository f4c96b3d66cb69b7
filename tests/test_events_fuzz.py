"""Adversarial-row parity fuzz for the events-table ops.

Same protocol as the documents/embeddings fuzzes. The event-stream edge
cases a real clickstream WILL contain: duplicate timestamps inside one
user (window ties), NULL timestamps (engines disagree on default NULL
ordering), NULL values, exact threshold boundaries (session gap of
exactly 1800 s, cluster weight of exactly 4000, cell-edge values), the
single-event user, and negative values (floor semantics)."""

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest

OPS = [
    "a12_cluster_prune", "a15_welford_stats", "a1_overlap_max",
    "a2_neighborhood_max", "j5_distance_join", "p7_separator_antijoin",
    "sessionize", "t4_neighborhood_peak", "w6_lag_gap_check",
]

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _adversarial_events(seed: int = 13) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0

    def add(ts, user, etype, value):
        nonlocal eid
        rows.append((eid, ts, user, etype, value, "{}"))
        eid += 1

    # user 1: ten events at the SAME timestamp (pure event_id ties)
    for _ in range(10):
        add(_T0, 1, "view", float(rng.normal(50, 10)))
    # user 2: gaps of exactly 1800 s (same session, > is strict) and
    # 1801 s (new session) around the boundary
    t = _T0
    for gap in (10, 1800, 1801, 1800, 5, 1801):
        t = t + dt.timedelta(seconds=gap)
        add(t, 2, "view", float(rng.normal(0, 1)))
    # user 3: NULL timestamps mixed with real ones
    for i in range(4):
        add(None if i % 2 else _T0 + dt.timedelta(seconds=i), 3,
            "click", float(i))
    # user 4: NULL values in every op's aggregation path
    for i in range(5):
        add(_T0 + dt.timedelta(seconds=60 * i), 4, "view",
            None if i % 2 else float(i * 100))
    # user 5: single event
    add(_T0, 5, "click", 3999.9999)
    # user 6: cluster weight summing to exactly 4000 (>= keeps it)
    add(_T0, 6, "view", 1999.5)
    add(_T0 + dt.timedelta(seconds=1), 6, "view", 2000.5)
    # user 7: negative + cell-boundary values (floor of negatives)
    for v in (-0.5, -10.0, 0.0, 9.999999, 10.0, -9.999999):
        add(_T0 + dt.timedelta(seconds=eid), 7,
            "click" if eid % 2 else "view", v)
    # user 8: big jumps for w6 (|dv| exactly 150 is NOT flagged, > is
    # strict) and duplicated values for j5 ties
    t = _T0
    for v in (0.0, 150.0, 0.0, 151.0, 151.0, 0.25):
        t = t + dt.timedelta(seconds=30)
        add(t, 8, "view", v)
    # filler: random users so joins/groups have mass
    for i in range(80):
        add(_T0 + dt.timedelta(seconds=int(rng.integers(0, 7200))),
            int(rng.integers(10, 20)),
            rng.choice(["view", "click", "scroll"]),
            float(np.round(rng.normal(100, 80), 4)))
    return pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])


@pytest.fixture(scope="module")
def fuzz_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzzevents")
    pdf = _adversarial_events()
    spark.createDataFrame(
        pdf, schema=("event_id long, ts timestamp, user_id long, "
                     "event_type string, value double, props string")
    ).repartition(3).write.parquet(str(d / "events.parquet"))
    return str(d)


def test_ops_list_is_exhaustive():
    import re

    from findtextcenternet_spark.plans import full_registry

    others = ("region nation customer supplier part orders lineitem "
              "documents embeddings").split()
    expect = sorted(
        name for name, (_fn, sql) in full_registry().items()
        if sql and "events" in sql
        and not any(re.search(rf"\b{t}\b", sql) for t in others))
    assert sorted(OPS) == expect


@pytest.mark.parametrize("name", OPS)
def test_events_parity_on_adversarial_rows(spark, fuzz_dir, name):
    import sys
    sys.path.insert(0, "scripts")
    from check_oracle import canon

    from findtextcenternet_spark.plans import full_registry

    fn, sql = full_registry()[name]
    got = canon(fn(spark, fuzz_dir).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{fuzz_dir}/events.parquet/*.parquet'")
    want = canon(con.execute(sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_exact=False, atol=1e-6)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_sessionize_subsecond_gap_matches_oracle(spark, tmp_path, ts_type):
    """A 1800.5 s gap that straddles a second boundary (00:00:00.2 →
    00:30:00.7) opens a new session; a gap of exactly 1800 s with
    fractional ends (00:00:00.7 → 00:30:00.7) does not. Whole-second gaps
    read the first as 1800 s, so Spark gave 1 session where the oracle's
    ``epoch(ts)`` gives 2. The generated ``events`` tables carry
    TIMESTAMP_NTZ, the fuzz table above TIMESTAMP."""
    from findtextcenternet_spark.plans import full_registry

    ms = dt.timedelta(milliseconds=1)
    pdf = pd.DataFrame(
        [(0, _T0 + 200 * ms, 1), (1, _T0 + 1_800_700 * ms, 1),
         (2, _T0 + 700 * ms, 2), (3, _T0 + 1_800_700 * ms, 2)],
        columns=["event_id", "ts", "user_id"]).assign(
            event_type="view", value=1.0, props="{}")
    spark.createDataFrame(
        pdf, schema=(f"event_id long, ts {ts_type}, user_id long, "
                     "event_type string, value double, props string")
    ).write.parquet(str(tmp_path / "events.parquet"))
    fn, sql = full_registry()["sessionize"]
    got = sorted(map(tuple, fn(spark, str(tmp_path)).toPandas().to_numpy()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{tmp_path}/events.parquet/*.parquet'")
    want = sorted(map(tuple, con.execute(sql).df().to_numpy()))
    assert got == want == [(1, 1, 1), (1, 2, 1), (2, 1, 2)]
