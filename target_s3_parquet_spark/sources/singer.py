"""Singer message-log ingestion — the reference's entire active pipeline
(SURVEY §2A R1-R13) restated as one declarative Spark job.

Reference lifecycle (``target_s3_parquet/__init__.py:212-331``):
stdin text → ``singer.parse_message`` → dispatch RECORD/SCHEMA/STATE →
Draft4 validate → flatten → per-stream buffer → Arrow pivot → Parquet →
S3 upload, with a 2-process queue in the middle.

Spark restatement: the message log is a text source (batch here;
``streaming.singer_stream`` is the readStream twin). SCHEMA and STATE
messages are *control plane* — tiny, driver-side; RECORD messages are
*data plane* — parsed, validated, flattened and written entirely on
executors. The per-contiguous-run buffering (R8) becomes
``partitionBy(stream)``: order-independent, no small-file explosion on
interleaved streams.

The control plane is ONE driver-side collect
(``collect_control_plane`` → ``(plans, last_state, activations)``)
shared by the batch target (``sink.run_singer_to_parquet``) and every
streaming epoch (``streaming.singer_stream``). Both targets therefore
fail fast on the same conditions, before any write: an invalid JSON
line, or a RECORD for a stream with no SCHEMA before it (R5) — raised
as ``SingerError`` like the reference's consumer loop. Strict
validation failures raise when the records are written.

Validation (R4): the baked-in image has no ``jsonschema`` package, so
the Draft4 subset that matters for tabular data (type, required,
nullability, maxLength, min/max) is compiled to native ``when``-checks
— vectorized, codegen'd, and scalable; rows failing in strict mode
raise (like the reference), in permissive mode they're quarantined to
an error column.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from target_s3_parquet_spark.plans.jsonschema import (
    flatten_df,
    jsonschema_to_spark,
)

# Envelope columns common to all Singer message types
# (reference __init__.py:215-251; spec: singer-spec SCHEMA/RECORD/STATE).
ENVELOPE = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("stream", T.StringType()),
        T.StructField("record", T.StringType()),  # kept as raw JSON text
        T.StructField("schema", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("key_properties", T.ArrayType(T.StringType())),
        T.StructField("time_extracted", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)


class SingerError(ValueError):
    """Pipeline-fatal condition (invalid JSON, record-before-schema,
    validation failure in strict mode) — mirrors the reference's
    fail-fast behavior (__init__.py:220, 224-229, 231)."""


@dataclass
class StreamPlan:
    """Control-plane state for one stream: its JSON schema, derived
    StructType, and key properties."""

    stream: str
    json_schema: dict[str, Any]
    key_properties: list[str] = field(default_factory=list)
    compat: bool = False

    @property
    def struct(self) -> T.StructType:
        return jsonschema_to_spark(self.json_schema, compat=self.compat)


def read_message_log(spark: SparkSession, path: str) -> DataFrame:
    """R1+R2: read line-delimited Singer messages as a DataFrame with the
    envelope parsed. Malformed JSON lines are detected (null parse of a
    non-null line) and surfaced as ``_corrupt`` for the caller to raise
    on — same hard-error contract as ``singer.parse_message`` raising."""
    raw = spark.read.text(path)
    return parse_message_lines(raw)


def parse_message_lines(raw: DataFrame, line_col: str = "value") -> DataFrame:
    """R2+R3 prep: parse each text line into the envelope; keep the raw
    record/schema payloads as JSON strings (schema applied later,
    per-stream)."""
    line = F.col(line_col)
    env = F.from_json(
        line,
        ENVELOPE,
        {"mode": "PERMISSIVE"},
    )
    parsed = raw.select(
        line.alias("_raw"),
        env.alias("m"),
        F.get_json_object(line, "$.record").alias("_record_json"),
        F.get_json_object(line, "$.schema").alias("_schema_json"),
        F.get_json_object(line, "$.value").alias("_state_json"),
        # a non-blank line is corrupt when its JSON parse yields nothing
        # OR it parses but carries no envelope "type" (a bare number or
        # string is valid JSON yet not a Singer message — the reference's
        # singer.parse_message raises on any such line, so silently
        # dropping it would diverge)
        (
            (F.length(F.trim(line)) > 0)
            & (F.try_parse_json(line).isNull() | env["type"].isNull())
        ).alias("_corrupt"),
    )
    return parsed.select(
        "_raw",
        F.col("m.type").alias("type"),
        F.col("m.stream").alias("stream"),
        F.col("_record_json").alias("record_json"),
        F.col("_schema_json").alias("schema_json"),
        F.col("_state_json").alias("state_json"),
        F.col("m.key_properties").alias("key_properties"),
        F.col("m.time_extracted").alias("time_extracted"),
        F.col("m.version").alias("version"),
        "_corrupt",
    )


def collect_control_plane(
    messages: DataFrame, in_force: dict[str, StreamPlan] | None = None
) -> tuple[dict[str, StreamPlan], str | None, dict[str, int]]:
    """Driver-side pass over the *control* messages only (SCHEMA, STATE,
    ACTIVATE_VERSION, plus one first-line marker per RECORD stream —
    O(streams + bookmarks), never O(records)), in ONE collect.

    Returns ``(plans, last_state_json, activations)``:
    - ``plans``: one StreamPlan per stream with a SCHEMA in ``messages``
      (a later SCHEMA replaces an earlier one);
    - ``last_state_json``: the value of the LAST STATE message (R13:
      only the last one matters, even when its value is null);
    - ``activations``: the last ACTIVATE_VERSION per stream (L5).

    Fatal conditions (``SingerError``), checked before any write:
    an invalid JSON line, or a RECORD whose stream has no SCHEMA before
    it (R5). ``in_force`` holds the plans declared before this slice of
    the log (the streaming target's epochs); RECORDs of those streams
    pass the R5 check without a SCHEMA in the slice.

    Schema-evolution policy (SURVEY hard part #4): the reference
    validates each record under the schema in force at its log
    position (`__init__.py:241` rebuilds the validator in-line); this
    batch restatement applies the LAST schema to the whole run — a
    deliberate deviation, since a single DataFrame has one schema.
    Runs that change schemas mid-log should be split at the SCHEMA
    boundary (the streaming path surfaces exactly this via
    ``SingerStreamJob.observed_schema_changes`` and restarts).
    """
    ctl = (
        messages.withColumn("_line", F.monotonically_increasing_id())
        .filter(
            F.col("_corrupt")
            | (F.col("type") == "STATE")
            | (
                F.col("type").isin("SCHEMA", "RECORD", "ACTIVATE_VERSION")
                # drops null and empty stream names alike
                & (F.col("stream") != "")
            )
        )
        # for RECORDs we only need the first line number per stream
        .groupBy("type", "stream")
        .agg(
            F.min("_line").alias("first_line"),
            F.max("_line").alias("last_line"),
            F.max_by("schema_json", "_line").alias("schema_json"),
            F.max_by("state_json", "_line").alias("state_json"),
            F.max_by("key_properties", "_line").alias("key_properties"),
            F.max_by("version", "_line").alias("version"),
            F.max(F.col("_corrupt").cast("int")).alias("corrupt"),
        )
        .collect()
    )
    if any(r["corrupt"] for r in ctl):
        raise SingerError("invalid JSON in message log")

    plans: dict[str, StreamPlan] = {}
    activations: dict[str, int] = {}
    first_record_line: dict[str, int] = {}
    first_schema_line: dict[str, int] = {}
    last_state, last_state_line = None, -1
    for r in ctl:
        if r["type"] == "SCHEMA":
            # later SCHEMAs replace earlier ones (reference __init__.py:241)
            plans[r["stream"]] = StreamPlan(
                stream=r["stream"],
                json_schema=json.loads(r["schema_json"] or "{}"),
                key_properties=list(r["key_properties"] or []),
            )
            first_schema_line[r["stream"]] = r["first_line"]
        elif r["type"] == "RECORD":
            first_record_line[r["stream"]] = r["first_line"]
        elif r["type"] == "ACTIVATE_VERSION" and r["version"] is not None:
            activations[r["stream"]] = int(r["version"])
        elif r["type"] == "STATE":
            if r["last_line"] > last_state_line:
                last_state, last_state_line = r["state_json"], r["last_line"]

    # R5: RECORD before its stream's SCHEMA is a hard error.
    for stream, rline in first_record_line.items():
        if stream in (in_force or {}):
            continue
        sline = first_schema_line.get(stream)
        if sline is None or rline < sline:
            raise SingerError(
                f"A record for stream {stream} was encountered "
                f"before a corresponding schema"
            )
    return plans, last_state, activations


def _compile_validators(plan: StreamPlan, rec: Column) -> list[tuple[str, Column]]:
    """R4 as native checks: compile the Draft4 subset into Columns that
    are true when the record VIOLATES the constraint."""
    checks: list[tuple[str, Column]] = []
    props = plan.json_schema.get("properties") or {}
    required = plan.json_schema.get("required") or []
    for name in required:
        # Draft4 'required' asserts key PRESENCE — an explicit JSON null
        # satisfies it when the type allows null. get_json_object cannot
        # distinguish missing from null (both return NULL), so check the
        # object's key set instead; a record that isn't a JSON object at
        # all (json_object_keys → NULL) also violates.
        checks.append(
            (
                f"required:{name}",
                ~F.coalesce(
                    F.array_contains(F.json_object_keys(rec), F.lit(name)),
                    F.lit(False),
                ),
            )
        )
    for name, prop in props.items():
        raw = F.get_json_object(rec, f"$.{name}")
        jt = prop.get("type")
        types = [jt] if isinstance(jt, str) else list(jt or [])
        if "integer" in types:
            checks.append(
                (
                    f"type:{name}:integer",
                    raw.isNotNull() & raw.cast("long").isNull(),
                )
            )
            if prop.get("maximum") is not None:
                checks.append(
                    (
                        f"max:{name}",
                        raw.cast("long") > F.lit(int(prop["maximum"])),
                    )
                )
            if prop.get("minimum") is not None:
                checks.append(
                    (
                        f"min:{name}",
                        raw.cast("long") < F.lit(int(prop["minimum"])),
                    )
                )
        elif "number" in types:
            checks.append(
                (
                    f"type:{name}:number",
                    raw.isNotNull() & raw.cast("double").isNull(),
                )
            )
        if "string" in types and prop.get("maxLength") is not None:
            checks.append(
                (
                    f"maxLength:{name}",
                    F.length(raw) > int(prop["maxLength"]),
                )
            )
    return checks


def records_for_stream(
    messages: DataFrame,
    plan: StreamPlan,
    validate: str = "strict",
    add_metadata: bool = False,
    compat: bool = False,
    with_version: bool = False,
) -> DataFrame:
    """R3+R4+R6+R10 for one stream: filter its RECORDs, apply the typed
    schema, validate, flatten. Pure narrow transformations — no shuffle.

    validate: 'strict' → any violation poisons the run via raise_error
    (reference fail-fast); 'permissive' → adds ``_validation_error``;
    'none' → skip.

    with_version: carry the RECORD envelope's ``version`` through as
    ``_sdc_table_version`` (L5 ACTIVATE_VERSION support — pipelinewise
    full-table syncs stamp every record with the sync's version).
    """
    plan = StreamPlan(plan.stream, plan.json_schema, plan.key_properties, compat)
    recs = messages.filter(
        (F.col("type") == "RECORD") & (F.col("stream") == plan.stream)
    )
    rec = F.col("record_json")

    err: Column = F.lit(None).cast("string")
    if validate != "none":
        for label, bad in _compile_validators(plan, rec):
            err = F.when(err.isNotNull(), err).when(bad, F.lit(label))
    version_cols = (
        [F.col("version").cast("long").alias("_sdc_table_version")]
        if with_version
        else []
    )
    typed = recs.select(
        F.from_json(rec, plan.struct).alias("r"),
        err.alias("_validation_error"),
        F.col("time_extracted"),
        *version_cols,
    )
    if validate == "strict":
        typed = typed.withColumn(
            "r",
            F.when(
                F.col("_validation_error").isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit(f"validation failed for stream {plan.stream}: "),
                        F.col("_validation_error"),
                    )
                ).cast(plan.struct.simpleString()),
            ).otherwise(F.col("r")),
        )

    carry = ["_validation_error", "time_extracted"] + (
        ["_sdc_table_version"] if with_version else []
    )
    flat = typed.select("r.*", *carry)
    flat = flatten_df(flat, compat=compat)

    if add_metadata:
        # L1 metadata columns (reference README.md:86, legacy
        # __init__.py:85-88).
        flat = (
            flat.withColumn(
                "_sdc_extracted_at", F.col("time_extracted").cast("timestamp")
            )
            .withColumn("_sdc_batched_at", F.current_timestamp())
            .withColumn(
                "_sdc_deleted_at",
                F.col("_sdc_deleted_at")
                if "_sdc_deleted_at" in flat.columns
                else F.lit(None).cast("string"),
            )
        )
    if validate != "permissive":
        flat = flat.drop("_validation_error")
    return flat.drop("time_extracted")


def ingest(
    spark: SparkSession,
    path: str,
    validate: str = "strict",
    add_metadata: bool = False,
    compat: bool = False,
) -> tuple[dict[str, DataFrame], str | None]:
    """Full batch ingestion: message log → {stream: flattened typed DF},
    plus the final STATE (to emit AFTER sinks commit — R13 at-least-once
    ordering)."""
    messages = read_message_log(spark, path)
    plans, state, _ = collect_control_plane(messages)
    out = {
        s: records_for_stream(messages, p, validate, add_metadata, compat)
        for s, p in plans.items()
    }
    return out, state
