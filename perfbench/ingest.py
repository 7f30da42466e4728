"""Singer ingest workload: a seeded message log through the batch
target and, as files, through the streaming target.

Batch: ``sources.sink.run_singer_to_parquet`` with the CLI defaults
(strict validation, snappy, ``partition_by_stream``). The first call in
the process is the cold pass. One untimed pass follows, because pass
times still fall by about a fifth from the first warm pass to the third
while the JVM compiles the driver-side planning code. Then timed warm
passes, each into a fresh output directory, until ``--seconds`` have
been measured. One client, closed loop.

Streaming: the same log cut into ``STREAM_FILES`` files (the SCHEMA
messages head the first) goes through
``streaming.singer_stream.SingerStreamJob`` with one file per trigger,
inside ``replay.stream_conf`` (the path
``run_singer_stream_to_completion`` takes), drained closed loop.

Why this workload: it is the reference target's whole job, it loads
``sources.singer``, ``plans.jsonschema`` and ``sources.sink`` and no
operator, and its two paths use those layers differently. The batch job
parses the whole log once for the control plane and once more per
stream (six streams, so seven parses); the streaming job caches each
epoch's parse but pays a fixed cost per epoch. A fix to the batch
re-parse moves ``pass_s`` here and leaves ``epoch_p50_s`` alone.

Every pass's output is read back outside the timed region and compared
with the generator's per-stream figures, and the returned STATE with
the log's last STATE; the streaming output likewise, plus one durable
bookmark per file.
"""

from __future__ import annotations

import json
import os
import time

from perfbench import singer_gen
from perfbench.common import median

RECORDS = 24_000
STREAM_FILES = 4
SMOKE_RECORDS = 1_200

# Module functions wrapped in the traced run (span name -> metric).
# ``flatten_df`` is ``plans.jsonschema``'s, called through the name
# ``sources.singer`` imported it under.
LAYER_METRICS = {
    "sources.singer.read_message_log": "sources.singer.read_message_log_s",
    "sources.singer.collect_control_plane": "sources.singer.collect_control_plane_s",
    "sources.singer.records_for_stream": "sources.singer.records_for_stream_s",
    "sources.singer.flatten_df": "plans.jsonschema.flatten_df_s",
    "sources.sink.write_stream_parquet": "sources.sink.write_stream_parquet_s",
}
STREAM_PHASES = {
    "triggerExecution": "streaming.singer_stream.trigger_s",
    "addBatch": "streaming.singer_stream.add_batch_s",
    "queryPlanning": "streaming.singer_stream.query_planning_s",
    "walCommit": "streaming.singer_stream.wal_commit_s",
}


def _observed(spark, out_dir: str) -> dict[str, tuple]:
    """Per stream: (rows, sum id, sum crc32 of the hashed column, sum of
    array lengths) read back from the Parquet output, in one job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for s in singer_gen.SCHEMAS:
        df = spark.read.parquet(os.path.join(out_dir, f"stream={s}"))
        h, a = singer_gen.HASHED[s], singer_gen.ARRAYS.get(s)
        crc = F.crc32(F.col(h).cast("binary")) if h else F.lit(0)
        alen = F.when(F.col(a).isNull(), 0).otherwise(F.size(a)) if a else F.lit(0)
        parts.append(df.agg(
            F.lit(s).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum("id").cast("long").alias("ids"),
            F.coalesce(F.sum(crc), F.lit(0)).cast("long").alias("crc"),
            F.coalesce(F.sum(alen), F.lit(0)).cast("long").alias("alen"),
        ))
    rows = reduce(lambda x, y: x.unionByName(y), parts).collect()
    return {r["s"]: (r["n"], r["ids"], r["crc"], r["alen"]) for r in rows}


def expected_figures(log: singer_gen.SingerLog) -> dict[str, tuple]:
    return {
        s: (e.rows, e.id_sum, e.crc_sum, e.array_len_sum)
        for s, e in log.expected.items()
    }


def compare_output(ctx, label: str, observed: dict, expected: dict) -> None:
    for s, want in expected.items():
        got = observed.get(s)
        ctx.check(f"{label} stream={s}", got == want, f"got {got} want {want}")


def compare_state(ctx, label: str, state: str | None, last_state: str) -> None:
    ok = state is not None and json.loads(state) == json.loads(last_state)
    ctx.check(f"{label} final STATE", ok, f"got {state!r} want {last_state!r}")


def _stream_files(log: singer_gen.SingerLog) -> list[str]:
    """The log cut into ``STREAM_FILES`` files' contents; the SCHEMA
    messages head the first."""
    head = [ln for ln in log.lines if ln.startswith('{"type":"SCHEMA"')]
    body = log.lines[len(head):]
    step = -(-len(body) // STREAM_FILES)
    return [
        "\n".join((head if i == 0 else []) + body[i * step:(i + 1) * step]) + "\n"
        for i in range(STREAM_FILES)
    ]


def _stream(ctx, log) -> dict:
    from target_s3_parquet_spark.streaming.replay import stream_conf
    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        plans_from_log_head,
    )

    spark = ctx.spark
    in_dir = os.path.join(ctx.work, "stream_in")
    os.makedirs(in_dir)
    files = _stream_files(log)
    # The file source replays in modification-time order: stamp an
    # increasing mtime per file.
    base = time.time() - 10 * len(files)
    for i, text in enumerate(files):
        path = os.path.join(in_dir, f"part-{i:05d}.jsonl")
        with open(path, "w") as f:
            f.write(text)
        os.utime(path, (base + i, base + i))
        if i == 0:
            # the control plane boots from the files present at start
            ctx.describe("stream/plans")
            plans = plans_from_log_head(spark, in_dir)
    job = SingerStreamJob(
        plans=plans,
        output_path=os.path.join(ctx.work, "stream_out"),
        checkpoint_path=os.path.join(ctx.work, "stream_ckpt"),
        state_dir=os.path.join(ctx.work, "stream_state"),
    )
    ctx.describe("stream/epochs")

    def drain():
        with stream_conf(spark):
            q = job.start(spark, in_dir, max_files_per_trigger=1)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return True

    with ctx.tracer.span("stream_drain") as span:
        ok = ctx.attempt("stream drain", drain)
    ctx.listener.settle()
    epochs = [p for p in ctx.listener.between(span.start, span.end) if p["rows"] > 0]
    return {"span": span, "epochs": epochs, "ok": ok, "job": job, "files": len(files)}


def _check_stream(ctx, log, stream: dict) -> None:
    from target_s3_parquet_spark.streaming.singer_stream import latest_state

    job = stream["job"]
    ctx.describe("check/stream")
    compare_output(
        ctx, "stream", _observed(ctx.spark, job.output_path), expected_figures(log)
    )
    compare_state(ctx, "stream", latest_state(job.state_dir), log.last_state)
    n_bookmarks = len(os.listdir(job.state_dir))
    ctx.check(
        "stream bookmarks", n_bookmarks == stream["files"],
        f"{n_bookmarks} durable bookmarks for {stream['files']} files",
    )


def run(ctx) -> dict:
    from target_s3_parquet_spark.sources import singer, sink

    spark = ctx.spark
    n = SMOKE_RECORDS if ctx.smoke else RECORDS
    log = singer_gen.generate(ctx.seed, n, state_every=max(1, n // 100))
    log_dir = os.path.join(ctx.work, "log")
    os.makedirs(log_dir)
    log_path = os.path.join(log_dir, "messages.jsonl")
    with open(log_path, "w") as f:
        f.write("\n".join(log.lines) + "\n")
    log_bytes = os.path.getsize(log_path)

    for span_name in LAYER_METRICS:
        module_name, attr = span_name.rsplit(".", 1)
        module = singer if module_name == "sources.singer" else sink
        ctx.tracer.wrap(module, attr, span_name)
    passes = []  # (span, output dir, returned state, ok)

    def batch_pass(label: str):
        out = os.path.join(ctx.work, "out", label)
        ctx.describe(f"{label}/batch")
        kind = label if label in ("cold", "warmup") else "warm"
        with ctx.tracer.span(f"{kind}_pass") as span:
            result = ctx.attempt(
                f"batch {label}",
                sink.run_singer_to_parquet,
                spark, log_path, sink.SinkConfig(path=out),
            )
        passes.append((span, out, result[1] if result else None, result is not None))

    try:
        batch_pass("cold")
        batch_pass("warmup")
        t_warm = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_warm < ctx.seconds:
            i += 1
            batch_pass(f"warm{i}")
    finally:
        ctx.tracer.unwrap()
    stream = _stream(ctx, log)
    ctx.record_peak_rss()

    if stream["ok"]:
        _check_stream(ctx, log, stream)
    expected = expected_figures(log)
    for span, out, state, ok in passes:
        if ok:
            ctx.describe(f"check/{span.name}")
            compare_output(ctx, f"batch {out}", _observed(spark, out), expected)
            compare_state(ctx, f"batch {out}", state, log.last_state)

    warm = passes[2:]
    pass_s = median(p[0].seconds for p in warm)
    last_out = warm[-1][1]
    files_out = sum(
        1 for _, _, fs in os.walk(last_out) for f in fs if f.endswith(".parquet")
    )
    bytes_out = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(last_out) for f in fs if f.endswith(".parquet")
    )
    ctx.summary.update({
        "records": n,
        "log_bytes": log_bytes,
        "ingest_records_per_s": n / pass_s if pass_s else 0.0,
        "ingest_bytes_out_per_in": bytes_out / log_bytes,
        "ingest_files_out": files_out,
        "stream_capacity_records_per_s": n / stream["span"].seconds,
        "warm_passes": len(warm),
    })
    ctx.results = {
        "log_bytes": log_bytes, "passes": passes, "stream": stream,
        "files_out": files_out,
    }
    return {
        "cold_pass_s": (passes[0][0].seconds, "s"),
        "pass_s": (pass_s, "s"),
        "epoch_p50_s": (
            median(p["ms"].get("triggerExecution", 0) for p in stream["epochs"]) / 1000.0,
            "s",
        ),
    }


def layer_metrics(ctx, log) -> dict:
    """Per-layer figures of the batch and streaming ingest; zero when
    the run was another workload."""
    names = list(LAYER_METRICS.values()) + list(STREAM_PHASES.values()) + [
        "sources.singer.log_reads_per_byte",
        "sources.sink.bytes_written",
        "sources.sink.files_written",
        "sources.sink.rows_written",
        "streaming.singer_stream.epochs",
        "streaming.singer_stream.rows_per_epoch",
    ]
    units = {n: ("s" if n.endswith("_s") else "count") for n in names}
    units["sources.singer.log_reads_per_byte"] = "ratio"
    units["sources.sink.bytes_written"] = "B"
    units["sources.sink.rows_written"] = "rows"
    units["streaming.singer_stream.rows_per_epoch"] = "rows"
    if ctx.workload != "ingest":
        return {n: (0.0, units[n]) for n in names}
    info = ctx.results
    warm = [p[0] for p in info["passes"][2:]]
    figs = [log.figures(s.start, s.end) for s in warm]
    out = {
        metric: (median(ctx.tracer.layer_seconds(span, s) for s in warm), "s")
        for span, metric in LAYER_METRICS.items()
    }
    epochs = info["stream"]["epochs"]
    for phase, metric in STREAM_PHASES.items():
        out[metric] = (median(p["ms"].get(phase, 0) for p in epochs) / 1000.0, "s")
    out.update({
        "sources.singer.log_reads_per_byte": (
            median(f.input_bytes for f in figs) / info["log_bytes"], "ratio"),
        "sources.sink.bytes_written": (median(f.output_bytes for f in figs), "B"),
        "sources.sink.files_written": (info["files_out"], "count"),
        "sources.sink.rows_written": (median(f.output_rows for f in figs), "rows"),
        "streaming.singer_stream.epochs": (len(epochs), "count"),
        "streaming.singer_stream.rows_per_epoch": (
            median(p["rows"] for p in epochs), "rows"),
    })
    return out
