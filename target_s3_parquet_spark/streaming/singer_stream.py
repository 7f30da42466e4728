"""The reference pipeline restated as Structured Streaming (SURVEY §2B
``stream_singer_ingest``): ``readStream`` over a growing Singer message
log → per-batch parse/validate/flatten → per-stream Parquet fan-out via
``foreachBatch`` — the true replacement for the reference's
producer/consumer processes + final-state-on-stdout (R13/R14):

- checkpointLocation makes the job resumable (the reference loses its
  place on crash and re-uploads — at-least-once with no recovery log).
- STATE bookmarks are recorded per epoch AFTER the epoch's writes
  commit, so a restart resumes from the last durable bookmark.
- Each stream lands in its own ``stream=`` partition directory, not one
  file per contiguous run.

An epoch is the batch target run over one slice of the log: the same
control-plane collect (``sources.singer.collect_control_plane``, one
job per epoch) and the same per-stream write loop
(``sources.sink.write_streams``). So the fatal conditions are the batch
target's: an invalid JSON line, or a RECORD for a stream with no SCHEMA
either in force (``SingerStreamJob.plans``) or earlier in the slice,
raises ``SingerError`` and stops the query before the epoch writes any
Parquet or bookmark. The epoch's bookmark is its last STATE message.

Schema handling: SCHEMA messages must be known before the stream
starts (they define the output StructTypes); a SCHEMA for an unknown
stream, or a changed re-SCHEMA of a known one, lands in
``observed_schema_changes`` for the operator to restart with — the
explicit policy SURVEY §7 'hard parts #4' calls for.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from target_s3_parquet_spark.sources.singer import (
    StreamPlan,
    collect_control_plane,
    parse_message_lines,
)
from target_s3_parquet_spark.sources.sink import SinkConfig, write_streams


@dataclass
class SingerStreamJob:
    """One resumable streaming ingest job."""

    plans: dict[str, StreamPlan]
    output_path: str
    checkpoint_path: str
    compression: str = "snappy"
    state_dir: str | None = None
    compat: bool = False
    validate: str = "strict"
    # L5: apply ACTIVATE_VERSION swaps per micro-batch (an epoch whose
    # log slice carries an activation replaces that stream's partition
    # with the activated version's rows via dynamic partition
    # overwrite). Constraint of the micro-batch restatement: the swap
    # covers the version's rows in the SAME epoch as the activation
    # (the shape a full-table sync emits — records then activation in
    # one sync); an activation whose version's rows all landed in
    # prior epochs is a no-op here (dynamic overwrite touches only
    # partitions present in the written data) — replay such logs
    # through the batch path (`sink.run_singer_to_parquet`), which
    # sees the whole log at once.
    activate_version: bool = False
    observed_schema_changes: list[str] = field(default_factory=list)

    def _process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        messages = parse_message_lines(batch)
        messages.cache()
        try:
            # control plane first: invalid JSON and R5 stop the query
            # before this epoch writes anything
            plans, state, activations = collect_control_plane(
                messages, in_force=self.plans
            )
            write_streams(
                messages,
                self.plans,
                activations,
                SinkConfig(
                    path=self.output_path,
                    compression=self.compression,
                    activate_version=self.activate_version,
                ),
                validate=self.validate,
                compat=self.compat,
            )
            # record the epoch's final STATE *after* the writes above
            # committed (R13 ordering)
            if state is not None and self.state_dir:
                os.makedirs(self.state_dir, exist_ok=True)
                with open(
                    os.path.join(self.state_dir, f"state-{epoch_id:010d}.json"), "w"
                ) as f:
                    f.write(state)
            # schema evolution: SCHEMA messages for unknown streams AND
            # mid-run re-SCHEMAs of known streams whose payload differs
            # from the plan in force — the latter is the actual
            # evolution case (new columns would otherwise keep parsing
            # under the stale plan and be silently dropped)
            for stream, plan in plans.items():
                known = self.plans.get(stream)
                if known is None or plan.json_schema != known.json_schema:
                    self.observed_schema_changes.append(stream)
        finally:
            messages.unpersist()

    def start(self, spark: SparkSession, log_dir: str, max_files_per_trigger: int = 1):
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(log_dir)
        )
        return (
            raw.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .start()
        )


def latest_state(state_dir: str) -> str | None:
    """The most recent durable bookmark (what a restart resumes from)."""
    if not os.path.isdir(state_dir):
        return None
    names = sorted(n for n in os.listdir(state_dir) if n.startswith("state-"))
    if not names:
        return None
    with open(os.path.join(state_dir, names[-1])) as f:
        return f.read()


def plans_from_log_head(spark: SparkSession, log_dir: str) -> dict[str, StreamPlan]:
    """Bootstrap the control plane from the log files present at start
    (batch read of SCHEMA messages only)."""
    messages = parse_message_lines(spark.read.text(os.path.join(log_dir, "*")))
    plans, _, _ = collect_control_plane(messages)
    return plans


def run_singer_stream_to_completion(
    spark: SparkSession,
    log_dir: str,
    output_path: str,
    checkpoint_path: str,
    state_dir: str,
    **job_kw,
) -> tuple[DataFrame, str | None]:
    """Convenience: bootstrap plans, run until the log is drained, stop,
    return (written data, final bookmark)."""
    plans = plans_from_log_head(spark, log_dir)
    job = SingerStreamJob(
        plans=plans,
        output_path=output_path,
        checkpoint_path=checkpoint_path,
        state_dir=state_dir,
        **job_kw,
    )
    from target_s3_parquet_spark.streaming.replay import stream_conf

    with stream_conf(spark):
        q = job.start(spark, log_dir)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.read.parquet(output_path), latest_state(state_dir)
