"""As-of join operator (operators/asof.py): point-in-time semantics,
tie handling, and a brute-force parity check."""

from datetime import datetime, timedelta

import pytest

from named_architecture_entity_recognition_spark.operators.asof import asof_join


def _t(s: int) -> datetime:
    return datetime(2024, 1, 1) + timedelta(seconds=s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, 100, _t(50), "p1"),
            (2, 100, _t(10), "p2"),   # before any right row
            (3, 100, _t(30), "p3"),   # exactly at a right ts (tie)
            (4, 200, _t(99), "p4"),   # key with no right rows
        ],
        "event_id long, user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (100, _t(20), 1.0),
            (100, _t(30), 2.0),
            (100, _t(45), 3.0),
            (100, _t(60), 4.0),  # after every left row -> never matched
        ],
        "user_id long, ts timestamp, value double",
    )
    return left, right


def test_latest_at_or_before(spark, frames):
    left, right = frames
    out = {r.event_id: r for r in asof_join(left, right).collect()}
    assert out[1].value_right == 3.0          # 45 <= 50, latest
    assert out[2].value_right is None         # nothing at or before 10
    assert out[3].value_right == 2.0          # equal ts matches (>=)
    assert out[4].value_right is None         # key absent on right
    # left columns survive untouched
    assert out[1].tag == "p1" and out[4].user_id == 200


def test_matches_bruteforce_on_random_data(spark):
    import random

    rng = random.Random(11)
    left_rows = [
        (i, rng.randint(0, 5), _t(rng.randint(0, 1000)))
        for i in range(120)
    ]
    right_rows = []
    used = set()
    for j in range(200):
        k, s = rng.randint(0, 5), rng.randint(0, 1000)
        if (k, s) in used:      # unique (key, ts) -> deterministic winner
            continue
        used.add((k, s))
        right_rows.append((k, _t(s), float(j)))
    left = spark.createDataFrame(
        left_rows, "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        right_rows, "user_id long, ts timestamp, value double"
    )
    got = {r.event_id: r.value_right for r in asof_join(left, right).collect()}
    for eid, k, ts in left_rows:
        cands = [(rts, v) for rk, rts, v in right_rows if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[eid] == want, (eid, k, ts)
