"""Invariant tests for the round-9 ADVICE fixes: the foreachBatch
reservoir fold must be idempotent under at-least-once batch
redelivery, the within-bucket tau kernel must stay exact past int64
product range, and the ledger's latest-red classification must match
the driver record semantics."""

from __future__ import annotations

import datetime


def test_reservoir_fold_idempotent_under_redelivery(spark):
    """ADVICE r8: re-applying an already-merged batch must leave the
    reservoir unchanged — without full-row dedup the duplicate rows
    rank separately and evict a legitimate row. fold(fold(s, b), b)
    == fold(s, b), and the result equals bottom-k of the union SET."""
    from target_s3_parquet_spark.streaming.stream_queries import (
        _reservoir_fold,
    )

    cols = "event_type string, event_id long, user_id long, h long"
    state = spark.createDataFrame(
        [("view", 1, 10, 100), ("view", 2, 11, 200), ("view", 3, 12, 300)],
        cols,
    )
    # batch overlaps state (rows 2, 3 redelivered) and adds rows whose
    # hashes would evict 3 ONLY if the duplicates double-counted
    batch = spark.createDataFrame(
        [
            ("view", 2, 11, 200),
            ("view", 3, 12, 300),
            ("view", 4, 13, 150),
            ("view", 5, 14, 250),
        ],
        cols,
    )
    once = sorted(map(tuple, _reservoir_fold(state, batch, k=4).collect()))
    twice = sorted(
        map(
            tuple,
            _reservoir_fold(
                _reservoir_fold(state, batch, k=4), batch, k=4
            ).collect(),
        )
    )
    assert once == twice
    # bottom-4 of the union set {100,150,200,250,300} by h
    assert sorted(r[3] for r in once) == [100, 150, 200, 250]


def test_reservoir_fold_duplicate_cannot_occupy_two_slots(spark):
    """The exact failure mode from the advice: a k-sized state re-fed
    its own rows must not evict any member."""
    from target_s3_parquet_spark.streaming.stream_queries import (
        _reservoir_fold,
    )

    cols = "event_type string, event_id long, user_id long, h long"
    rows = [("click", i, 20 + i, 100 * i) for i in range(1, 5)]
    state = spark.createDataFrame(rows, cols)
    redelivered = spark.createDataFrame(rows[:2], cols)
    out = sorted(map(tuple, _reservoir_fold(state, redelivered, k=4).collect()))
    assert out == sorted(map(tuple, (tuple(r) for r in rows)))


def test_topk_measure_fold_idempotent_and_correct(spark):
    """The measure-ordered twin of the reservoir fold: redelivery must
    not evict a legitimate row, and the fold must keep the top-k by
    (value DESC, event_id)."""
    from target_s3_parquet_spark.streaming.stream_queries import (
        _topk_measure_fold,
    )

    cols = "event_type string, event_id long, user_id long, value double"
    state = spark.createDataFrame(
        [("view", 1, 10, 9.0), ("view", 2, 11, 8.0), ("view", 3, 12, 7.0)],
        cols,
    )
    batch = spark.createDataFrame(
        [
            ("view", 2, 11, 8.0),   # redelivered
            ("view", 4, 13, 8.5),
            ("view", 5, 14, 6.0),   # below the new cut -> out
        ],
        cols,
    )
    once = sorted(map(tuple, _topk_measure_fold(state, batch, k=4).collect()))
    twice = sorted(
        map(
            tuple,
            _topk_measure_fold(
                _topk_measure_fold(state, batch, k=4), batch, k=4
            ).collect(),
        )
    )
    assert once == twice
    assert sorted((r[3] for r in once), reverse=True) == [9.0, 8.5, 8.0, 7.0]


def test_histogram_fold_skips_redelivered_batches(spark):
    """COUNT-semantics fold: merging sums counts; a re-applied batch_id
    must leave state unchanged (the batch_id guard, since dedup cannot
    make counts idempotent)."""
    from target_s3_parquet_spark.streaming.stream_queries import (
        _histogram_fold,
    )

    cols = "event_type string, bin long"
    b0 = spark.createDataFrame(
        [("view", 100), ("view", 100), ("view", 200)], cols
    )
    b1 = spark.createDataFrame([("view", 100), ("click", 50)], cols)
    s0 = _histogram_fold(None, b0, batch_id=0)
    s1 = _histogram_fold(s0, b1, batch_id=1)
    merged = {(r.event_type, r.bin): r.cnt for r in s1.collect()}
    assert merged == {("view", 100): 3, ("view", 200): 1, ("click", 50): 1}
    # redelivery of batch 1 (and of any earlier batch) is a no-op
    again = {
        (r.event_type, r.bin): r.cnt
        for r in _histogram_fold(s1, b1, batch_id=1).collect()
    }
    assert again == merged
    stale = {
        (r.event_type, r.bin): r.cnt
        for r in _histogram_fold(s1, b0, batch_id=0).collect()
    }
    assert stale == merged


def test_stream_histogram_quantile_type1_boundaries(spark, tmp_path):
    """The integer threshold 100*cum >= q*n must select the TYPE-1
    lower quantile exactly at boundary counts (n=20: p95 is the 19th
    value, not the 20th — the float 0.95*20 = 19.000000000000004
    rounding trap the integer form avoids)."""
    import os

    from target_s3_parquet_spark.streaming.stream_queries import (
        stream_histogram_quantile,
    )

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1, 0, i % 60),
            i,
            "view",
            float(i + 1),  # values 1.00 .. 20.00
            "{}",
        )
        for i in range(20)
    ]
    sf = str(tmp_path / "sf_hq")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))

    r = stream_histogram_quantile(spark, sf).collect()[0]
    # ceil(0.5*20)=10th value=10.00; ceil(0.95*20)=19th=19.00;
    # ceil(0.99*20)=20th=20.00
    assert (r.n_events, r.p50_cents, r.p95_cents, r.p99_cents) == (
        20,
        1000,
        1900,
        2000,
    )


def test_concordance_stats_match_bruteforce(spark, tmp_path):
    """gamma / Somers' D vs direct O(n^2) pair counting on a small
    tie-heavy lineitem fixture — same channel as the tau pin."""
    import os
    import random

    from target_s3_parquet_spark.operators.aggregates import (
        agg_corr_concordance_stats,
    )

    rng = random.Random(77)
    rows = [
        (
            i,
            1,
            float(rng.randint(1, 8)),                 # l_quantity, heavy ties
            float(rng.choice([100.25, 200.5, 300.75, 400.0])),  # price ties
            datetime.datetime(1995, 6, 1),
        )
        for i in range(120)
    ]
    sf = str(tmp_path / "sf_conc")
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber long, l_quantity double, "
        "l_extendedprice double, l_shipdate timestamp",
    ).coalesce(1).write.parquet(os.path.join(sf, "lineitem.parquet"))

    got = agg_corr_concordance_stats(spark, sf).collect()[0]

    pts = [(int(r[2]), r[3]) for r in rows]
    c = d = 0
    n = len(pts)
    for i in range(n):
        for j in range(i + 1, n):
            (va, ga), (vb, gb) = pts[i], pts[j]
            if va == vb or ga == gb:
                continue
            if (va < vb) == (ga < gb):
                c += 1
            else:
                d += 1
    assert (got.n_rows, got.n_concordant, got.n_discordant) == (n, c, d)
    assert abs(got.gk_gamma - (c - d) / (c + d)) < 1e-12
    # untied_v = pairs not tied on quantity; untied_g = not tied on price
    untied_v = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if pts[i][0] != pts[j][0]
    )
    untied_g = sum(
        1
        for i in range(n)
        for j in range(i + 1, n)
        if pts[i][1] != pts[j][1]
    )
    assert abs(got.somers_d_price - (c - d) / untied_v) < 1e-12
    assert abs(got.somers_d_qty - (c - d) / untied_g) < 1e-12


def test_concordance_counts_empty_input(spark):
    """An empty point relation has n = 0, as the oracle's COUNT(*) —
    not SUM's NULL."""
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.operators.aggregates import _concordance_counts

    try:
        got = _concordance_counts(
            spark.createDataFrame([], "v int, g double")
        ).collect()
    finally:
        release_rank_caches()
    assert len(got) == 1 and got[0]["n"] == 0


def test_tau_within_kernel_exact_past_int64_product_range():
    """ADVICE r8: with ~3.1e9 rows in two cells the dominance product
    m * pfx is ~9.61e18 > int64 max (9.22e18); the kernel must return
    the exact unbounded value, not a wrapped one."""
    from decimal import Decimal

    import pandas as pd

    from target_s3_parquet_spark.operators.aggregates import (
        _tau_within_kernel,
    )

    c = 3_100_000_000
    pdf = pd.DataFrame({"v": [1, 2], "g": [1.0, 2.0], "c": [c, c]})
    out = _tau_within_kernel(pdf)
    assert out["cw"].iloc[0] == Decimal(c) * Decimal(c)  # 9.61e18, exact


def test_tau_within_kernel_matches_bruteforce_small():
    """The kernel's dominance count vs an O(cells^2) brute force on a
    tie-heavy cell frame (both strict inequalities)."""
    import random

    import pandas as pd

    from target_s3_parquet_spark.operators.aggregates import (
        _tau_within_kernel,
    )

    rng = random.Random(99)
    cells = [
        (rng.randint(1, 6), float(rng.randint(1, 4)), rng.randint(1, 9))
        for _ in range(60)
    ]
    # collapse duplicate (v, g) cells the way groupBy(v, g) does
    agg: dict = {}
    for v, g, c in cells:
        agg[(v, g)] = agg.get((v, g), 0) + c
    pdf = pd.DataFrame(
        {
            "v": [k[0] for k in agg],
            "g": [k[1] for k in agg],
            "c": list(agg.values()),
        }
    )
    got = int(_tau_within_kernel(pdf)["cw"].iloc[0])
    want = sum(
        ca * cb
        for (va, ga), ca in agg.items()
        for (vb, gb), cb in agg.items()
        if va < vb and ga < gb
    )
    assert got == want


def test_ledger_red_classification_matches_driver_semantics():
    """_is_red must flag errs (incl. no_oracle) and any explicit False
    flag, and pass a three-way green or a rows-only null-hash record."""
    from tools.gen_sample_ledger import _is_red

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    assert not _is_red(green)
    assert _is_red({**green, "hash_match": False})
    assert _is_red({**green, "rows_match": False})
    assert _is_red({**green, "err": "no_oracle"})
    assert _is_red({"err": "TypeError: unhashable type: 'list'"})
    # rows-only record (hash never computed, no err) is not red — the
    # driver recorded it as its weaker pass, and resampling it adds
    # nothing until an oracle lands (oracle landing flips err instead)
    assert not _is_red({**green, "hash_match": None})


def test_registry_front_loads_stalest_keys():
    """The ordering criterion is pure least-recently-sampled (VERDICT
    r9 item 1): with no latest-red keys, the driver's 50-key window
    must be exactly the stalest external evidence — no key outside the
    window may be staler than any key inside it (never-sampled keys
    count as staleness 0 and lead)."""
    from target_s3_parquet_spark._sample_ledger import LATEST_RED, SAMPLED
    from target_s3_parquet_spark.registry import get_queries

    assert LATEST_RED == frozenset()
    keys = list(get_queries())
    head, tail = keys[:50], keys[50:]
    latest = lambda k: max(SAMPLED.get(k, ()), default=0)  # noqa: E731
    assert max(latest(k) for k in head) <= min(latest(k) for k in tail), (
        "driver sample window must hold the least-recently-sampled keys"
    )


def test_sample_ledger_max_age_bounded():
    """VERDICT r11 item 1: no key's external driver evidence may fall
    further behind than one full rotation of the catalog through the
    driver's ~50-key window (ceil(n/50) rounds) plus 2 rounds of slack
    for newly-registered keys entering at the head. A failure here
    means the rotation stalled and some key is aging silently."""
    import math

    from target_s3_parquet_spark._sample_ledger import SAMPLED
    from target_s3_parquet_spark.registry import get_queries

    keys = list(get_queries())
    ledger_max = max(r for v in SAMPLED.values() for r in v)
    bound = math.ceil(len(keys) / 50) + 2
    aged = {
        k: ledger_max - max(SAMPLED.get(k, ()), default=ledger_max)
        for k in keys
    }
    worst = max(aged.values())
    offenders = sorted(k for k, a in aged.items() if a > bound)
    assert worst <= bound, (
        f"sample rotation stalled: age {worst} > bound {bound} for "
        f"{offenders[:10]}"
    )


def test_stream_windowed_distinct_count_dedups_across_batches(spark, tmp_path):
    """The chained dedup -> windowed count must count each user ONCE
    per (window, type) even when their duplicate events straddle
    micro-batch boundaries, and must emit only watermark-closed
    windows. Fixture: user 1 hits hour-0 five times (3 chunks spread
    the repeats across batches), hour 1 stays open at the final
    watermark (max ts 2:59 - 30 min = 2:29 < 2:00+1h)."""
    import os

    from target_s3_parquet_spark.streaming.stream_queries import (
        stream_windowed_distinct_count,
    )

    def ev(eid, hour, minute, uid):
        return (
            eid,
            datetime.datetime(2024, 1, 1, hour, minute),
            uid,
            "view",
            1.0,
            "{}",
        )

    rows = [
        ev(1, 0, 0, 1),
        ev(2, 0, 10, 1),
        ev(3, 0, 20, 1),
        ev(4, 0, 30, 1),
        ev(5, 0, 40, 1),   # user 1 x5 in hour 0 -> counts once
        ev(6, 0, 50, 2),   # second distinct user in hour 0
        ev(7, 1, 30, 1),   # hour 1: closed by the final watermark
        ev(8, 2, 59, 3),   # hour 2 stays OPEN (wm = 2:29) -> withheld
    ]
    sf = str(tmp_path / "sf_wdc")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))

    got = {
        (r.window_start, r.event_type): r.n_users
        for r in stream_windowed_distinct_count(spark, sf).collect()
    }
    assert got == {
        (datetime.datetime(2024, 1, 1, 0), "view"): 2,
        (datetime.datetime(2024, 1, 1, 1), "view"): 1,
    }


def test_stream_reservoir_sample_matches_batch_draw(spark, tmp_path):
    """End-to-end: the incremental reservoir over a replayed stream
    equals the one-shot batch bottom-k draw on a tiny fixture."""
    import os

    from pyspark.sql import functions as F

    from target_s3_parquet_spark.streaming.stream_queries import (
        stream_reservoir_sample,
    )

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1, 0, i % 60),
            i % 7,
            "view" if i % 2 else "click",
            1.0,
            "{}",
        )
        for i in range(40)
    ]
    sf = str(tmp_path / "sf_resv")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(sf, "events.parquet"))

    got = {
        (r.event_type, r.sample_rank): (r.event_id, r.hash52)
        for r in stream_reservoir_sample(spark, sf).collect()
    }
    h = F.expr(
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 13),"
        " 16, 10) AS BIGINT)"
    )
    batch = (
        spark.read.parquet(os.path.join(sf, "events.parquet"))
        .select("event_type", "event_id", h.alias("h"))
        .collect()
    )
    by_type: dict = {}
    for r in batch:
        by_type.setdefault(r.event_type, []).append((r.h, r.event_id))
    want = {}
    for typ, hs in by_type.items():
        for rank, (hv, eid) in enumerate(sorted(hs)[:4], start=1):
            want[(typ, rank)] = (eid, hv)
    assert got == want
