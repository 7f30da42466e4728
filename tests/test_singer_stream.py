"""Streaming Singer ingest: multi-epoch processing, per-epoch durable
bookmarks, and checkpoint-based resume without duplicates — the
exactly-once-per-epoch upgrade over the reference's at-least-once
re-upload-on-crash behavior."""

import json
import os

import pytest

from tests import singer_fixtures as fx


def _users_epoch(spark, tmp_path, lines, name):
    """Append ``lines`` to the log as file ``name`` and drain the job
    that has only ``app-users`` declared at start; returns the job."""
    from target_s3_parquet_spark.sources.singer import StreamPlan
    from target_s3_parquet_spark.streaming.singer_stream import SingerStreamJob

    (tmp_path / "log").mkdir(exist_ok=True)
    fx.write_log(str(tmp_path / "log"), lines, name)
    job = SingerStreamJob(
        plans={"app-users": StreamPlan("app-users", fx.USERS_SCHEMA, ["id"])},
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
    )
    q = job.start(spark, str(tmp_path / "log"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return job


def _bookmarks(tmp_path) -> list[str]:
    d = tmp_path / "state"
    return sorted(os.listdir(d)) if d.is_dir() else []


def test_stream_ingest_multi_epoch_and_resume(spark, tmp_path):
    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        latest_state,
        plans_from_log_head,
    )

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    lines = fx.three_stream_log()
    # epoch 1: schemas + first users/clicks records
    fx.write_log(str(log_dir), lines[:8], "000.jsonl")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sdir = str(tmp_path / "state")

    plans = plans_from_log_head(spark, str(log_dir))
    # sessions schema arrives later — declare it up front from the full
    # fixture (policy: schemas known at start; evolution is surfaced)
    assert set(plans) == {"app-users", "app-clicks"}

    job = SingerStreamJob(
        plans=plans, output_path=out, checkpoint_path=ckpt, state_dir=sdir
    )
    q = job.start(spark, str(log_dir))
    q.processAllAvailable()
    q.stop()

    users1 = spark.read.parquet(out).filter("stream = 'app-users'").count()
    assert users1 == 2
    assert json.loads(latest_state(sdir))["bookmarks"]["app-users"]["id"] == 2

    # epoch 2: the remaining log arrives; restart from checkpoint —
    # already-processed files must NOT be re-ingested
    fx.write_log(str(log_dir), lines[8:], "001.jsonl")
    job2 = SingerStreamJob(
        plans=plans, output_path=out, checkpoint_path=ckpt, state_dir=sdir
    )
    q2 = job2.start(spark, str(log_dir))
    q2.processAllAvailable()
    q2.stop()

    back = spark.read.parquet(out)
    assert back.filter("stream = 'app-users'").count() == 3  # not 5: no re-read
    assert back.filter("stream = 'app-clicks'").count() == 2
    # schema evolution surfaced for the stream declared mid-log
    assert "app-sessions" in job2.observed_schema_changes
    # bookmark advanced with epoch 2
    assert json.loads(latest_state(sdir))["bookmarks"]["app-users"]["id"] == 3
    # flattened nested columns survived the streaming path
    assert "meta__geo__lat" in back.columns


def test_known_stream_reschema_surfaces_evolution(spark, tmp_path):
    """A mid-run re-SCHEMA of a KNOWN stream with a different payload is
    the actual evolution case — it must land in observed_schema_changes
    (ADVICE r1: it was silently ignored and new columns were dropped
    under the stale plan), while a re-SCHEMA identical to the plan in
    force (the normal replay of the bootstrap SCHEMA line) must NOT."""
    import copy

    from target_s3_parquet_spark.streaming.singer_stream import (
        SingerStreamJob,
        plans_from_log_head,
    )

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    evolved = copy.deepcopy(fx.USERS_SCHEMA)
    evolved["properties"]["email"] = {"type": ["null", "string"]}
    lines = [
        fx._msg(type="SCHEMA", stream="app-users", schema=fx.USERS_SCHEMA,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users", record={"id": 1, "name": "a"}),
        # identical re-SCHEMA: NOT evolution (bootstrap replay)
        fx._msg(type="SCHEMA", stream="app-users", schema=fx.USERS_SCHEMA,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users", record={"id": 2, "name": "b"}),
    ]
    fx.write_log(str(log_dir), lines, "000.jsonl")
    plans = plans_from_log_head(spark, str(log_dir))
    job = SingerStreamJob(
        plans=plans,
        output_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
    )
    q = job.start(spark, str(log_dir))
    q.processAllAvailable()
    q.stop()
    assert job.observed_schema_changes == []

    # epoch 2: same stream re-SCHEMAs with a NEW column -> surfaced
    lines2 = [
        fx._msg(type="SCHEMA", stream="app-users", schema=evolved,
                key_properties=["id"]),
        fx._msg(type="RECORD", stream="app-users",
                record={"id": 3, "name": "c", "email": "c@x"}),
    ]
    fx.write_log(str(log_dir), lines2, "001.jsonl")
    q2 = job.start(spark, str(log_dir))
    q2.processAllAvailable()
    q2.stop()
    assert "app-users" in job.observed_schema_changes


def test_invalid_json_epoch_fails_before_writing(spark, tmp_path):
    """A non-JSON line stops the query with the batch target's
    SingerError; the epoch writes neither Parquet nor a bookmark."""
    lines = fx.invalid_json_log() + [
        fx._msg(type="STATE", value={"bookmarks": {"app-users": {"id": 1}}})
    ]
    with pytest.raises(Exception, match="SingerError: invalid JSON"):
        _users_epoch(spark, tmp_path, lines, "000.jsonl")
    assert not (tmp_path / "out").exists()
    assert _bookmarks(tmp_path) == []


def test_record_without_schema_fails_like_batch(spark, tmp_path):
    """R5 in an epoch: RECORDs of a stream declared at start need no
    SCHEMA in the slice; a RECORD for a stream with no SCHEMA in force
    or earlier in the slice stops the query before that epoch writes."""
    users = [
        fx._msg(type="RECORD", stream="app-users", record={"id": 1}),
        fx._msg(type="STATE", value={"bookmarks": {"app-users": {"id": 1}}}),
    ]
    _users_epoch(spark, tmp_path, users, "000.jsonl")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1
    assert len(_bookmarks(tmp_path)) == 1

    clicks = [
        fx._msg(type="RECORD", stream="app-clicks", record={"id": 10}),
        fx._msg(type="SCHEMA", stream="app-clicks", schema=fx.CLICKS_SCHEMA,
                key_properties=["id"]),
    ]
    with pytest.raises(Exception, match="SingerError: A record for stream app-clicks"):
        _users_epoch(spark, tmp_path, users + clicks, "001.jsonl")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1
    assert len(_bookmarks(tmp_path)) == 1


def test_epoch_bookmark_is_last_state(spark, tmp_path):
    """The batch STATE rule: the epoch's last STATE message wins, so a
    trailing null-valued STATE leaves no bookmark for that epoch."""
    lines = [
        fx._msg(type="RECORD", stream="app-users", record={"id": 1}),
        fx._msg(type="STATE", value={"bookmarks": {"app-users": {"id": 1}}}),
        fx._msg(type="STATE", value=None),
    ]
    _users_epoch(spark, tmp_path, lines, "000.jsonl")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1
    assert _bookmarks(tmp_path) == []
