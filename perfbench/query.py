"""Operator query workload: one closed-loop client runs a mixed key
list from the catalog over seeded tables.

Each key is ``registry.get_queries()[key](spark, data_dir)``,
materialized with the ``noop`` writer, so every projected column is
computed (``count()`` would let Catalyst prune it). The key order is a
permutation drawn from the seed. The first pass in the process is the
cold pass. One untimed pass follows (the JVM is still compiling: the
replayed stream's epochs keep getting faster); it collects every result
to pandas for the correctness check. Then warm passes until
``--seconds`` have been measured.
Between keys the run drops cached relations
(``spark.catalog.clearCache``, ``release_rank_caches``) and resets
``replay.LAST_TIMINGS``.

Why these keys: together they run every operator layer on small inputs,
where fixed per-job and per-epoch costs dominate, as at the catalog's
test scale. The JVM scan/shuffle/join plans (``q1_pricing_summary``,
``tpch_q3_shipping_priority``, ``join_asof``, ``agg_cube``,
``window_rank``), candidate-pair and vector work (``docs_dup_source_matrix``,
``sim_knn_cosine``), Python/Arrow workers (``text_stats``,
``udf_pandas_scalar``) and one replayed stateful stream
(``stream_window_tumbling``), the only key that runs ``streaming.replay``
and the state store.

After the timed passes, every collected result is compared with its
DuckDB oracle on the same files: row count, column names and the
order-insensitive ``frame_hash`` of ``tools/check_correctness.py``.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import table_gen
from perfbench.common import median

KEYS = (
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "join_asof",
    "agg_cube",
    "window_rank",
    "docs_dup_source_matrix",
    "sim_knn_cosine",
    "text_stats",
    "udf_pandas_scalar",
    "stream_window_tumbling",
)
SMOKE_KEYS = ("q1_pricing_summary", "udf_pandas_scalar", "stream_window_tumbling")
LINEITEMS = 6_000
SMOKE_LINEITEMS = 600
REPLAY_TIMINGS = {
    "prep_sec": "streaming.replay.prep_s",
    "stream_sec": "streaming.replay.stream_s",
    "sink_sec": "streaming.replay.sink_s",
}


def _key_pass(ctx, keys, data_dir: str, label: str) -> dict:
    """One pass over ``keys``; returns {key: (span, result, replay
    timings)} plus {None: the pass's span}. The ``warmup`` pass collects
    each result to pandas for the oracle check; the other passes write
    it to the ``noop`` sink, and their result is True."""
    from target_s3_parquet_spark.operators._util import release_rank_caches
    from target_s3_parquet_spark.streaming import replay

    spark = ctx.spark
    out = {}
    kind = label if label in ("cold", "warmup") else "warm"

    def materialize(df):
        if kind == "warmup":
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return True

    with ctx.tracer.span(f"{kind}_pass") as pass_span:
        for key in keys:
            fn = ctx.queries[key]
            ctx.describe(f"{label}/{key}")
            replay.reset_timings()
            with ctx.tracer.span(f"operators.{key}") as span:
                result = ctx.attempt(
                    f"{label} {key}", lambda: materialize(fn(spark, data_dir))
                )
            out[key] = (span, result, dict(replay.LAST_TIMINGS))
            spark.catalog.clearCache()
            release_rank_caches()
    out[None] = pass_span
    return out


def compare_frames(spark_pdf, oracle_pdf) -> str:
    """Empty when the two results agree on row count, column names and
    value hash; otherwise what differs."""
    from tools.check_correctness import frame_hash

    if len(spark_pdf) != len(oracle_pdf):
        return f"rows spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
    sh, oh = frame_hash(spark_pdf), frame_hash(oracle_pdf)
    return "" if sh == oh else f"valuehash spark={sh} oracle={oh}"


def _check(ctx, collected: dict, data_dir: str) -> None:
    """Compare each collected result with its DuckDB oracle."""
    import duckdb

    from target_s3_parquet_spark import registry

    oracles = registry.get_oracles()
    con = duckdb.connect()
    try:
        for t in table_gen.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key, entry in collected.items():
            got = None if key is None else entry[1]
            if got is None:
                continue  # the pass's own span, or a key that raised
            want = ctx.attempt(f"oracle {key}", lambda: con.sql(oracles[key]).df())
            if want is not None:
                diff = compare_frames(got, want)
                ctx.check(f"oracle {key}", not diff, diff)
    finally:
        con.close()


def run(ctx) -> dict:
    keys = list(SMOKE_KEYS if ctx.smoke else KEYS)
    random.Random(ctx.seed).shuffle(keys)
    data_dir = table_gen.write_tables(
        ctx.seed,
        SMOKE_LINEITEMS if ctx.smoke else LINEITEMS,
        os.path.join(ctx.work, "data"),
    )
    cold = _key_pass(ctx, keys, data_dir, "cold")
    collected = _key_pass(ctx, keys, data_dir, "warmup")
    warm = []
    t_warm = time.perf_counter()
    while not warm or time.perf_counter() - t_warm < ctx.seconds:
        warm.append(_key_pass(ctx, keys, data_dir, f"warm{len(warm) + 1}"))
    ctx.record_peak_rss()
    _check(ctx, collected, data_dir)
    ctx.listener.settle()
    epochs = [
        p
        for w in warm
        for p in ctx.listener.between(w[None].start, w[None].end)
        if p["rows"] > 0
    ]
    ctx.results = {"keys": keys, "cold": cold, "warm": warm}
    pass_s = median(w[None].seconds for w in warm)
    ctx.summary.update({
        "keys": len(keys),
        "warm_passes": len(warm),
        "keys_per_s": len(keys) / pass_s if pass_s else 0.0,
        "stream_epochs": len(epochs),
    })
    return {
        "cold_pass_s": (cold[None].seconds, "s"),
        "pass_s": (pass_s, "s"),
        "epoch_p50_s": (
            median(p["ms"].get("triggerExecution", 0) for p in epochs) / 1000.0, "s"
        ),
    }


def layer_metrics(ctx, log) -> dict:
    """Per-key figures and the replayed stream's phases; zero when the
    run was another workload."""
    names = {}
    for key in KEYS:
        names[f"operators.{key}.s"] = "s"
        names[f"operators.{key}.cold_s"] = "s"
        names[f"operators.{key}.stages"] = "count"
        names[f"operators.{key}.shuffle_bytes"] = "B"
    for metric in REPLAY_TIMINGS.values():
        names[metric] = "s"
    out = {n: (0.0, u) for n, u in names.items()}
    if ctx.workload != "query":
        return out
    warm, cold = ctx.results["warm"], ctx.results["cold"]
    for key in ctx.results["keys"]:
        spans = [w[key][0] for w in warm]
        figs = [log.figures(s.start, s.end) for s in spans]
        out[f"operators.{key}.s"] = (median(s.seconds for s in spans), "s")
        out[f"operators.{key}.cold_s"] = (cold[key][0].seconds, "s")
        out[f"operators.{key}.stages"] = (median(f.stages for f in figs), "count")
        out[f"operators.{key}.shuffle_bytes"] = (median(f.shuffle_bytes for f in figs), "B")
    for field, metric in REPLAY_TIMINGS.items():
        out[metric] = (
            median(sum(w[k][2].get(field, 0.0) for k in ctx.results["keys"]) for w in warm),
            "s",
        )
    return out
