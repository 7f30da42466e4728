"""Driver-facing query keys exercising the Singer ingest pipeline
(SURVEY §2A R1-R6, R10) through the same oracle contract as the
relational operators.

The message log is synthesized distributively FROM the sf tables
(``to_json`` over a struct — an executor-side projection, so the test
scales with the table), then pushed through the real parse → dispatch
→ validate → flatten pipeline. The DuckDB oracle recomputes the
expected output straight from the source table: if parse/flatten lose
or corrupt anything, the hashes split.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from target_s3_parquet_spark._snapshot import snapshot_persisted, snapshot_small

from target_s3_parquet_spark.operators._util import t
from target_s3_parquet_spark.registry import query
from target_s3_parquet_spark.sources.singer import (
    StreamPlan,
    collect_control_plane,
    parse_message_lines,
    records_for_stream,
)

_ORDERS_SCHEMA = {
    "type": ["null", "object"],
    "properties": {
        "id": {"type": ["null", "integer"]},
        "status": {"type": ["null", "string"], "maxLength": 8},
        "amounts": {
            "type": ["null", "object"],
            "properties": {
                "price": {"type": ["null", "number"]},
                "tax_est": {"type": ["null", "number"]},
            },
        },
        "flags": {"type": ["null", "array"], "items": {"type": ["null", "string"]}},
    },
    "required": ["id"],
}


def _orders_as_singer_lines(spark, sf_dir):
    """orders rows → Singer RECORD envelope JSON lines (R1's input,
    built executor-side)."""
    o = t(spark, sf_dir, "orders")
    record = F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.struct(
            F.col("o_totalprice").alias("price"),
            (F.col("o_totalprice") * 0.07).alias("tax_est"),
        ).alias("amounts"),
        F.array(F.col("o_orderpriority"), F.col("o_orderstatus")).alias("flags"),
    )
    return o.select(
        F.to_json(
            F.struct(
                F.lit("RECORD").alias("type"),
                F.lit("orders").alias("stream"),
                record.alias("record"),
            )
        ).alias("value")
    )


@query(
    "singer_ingest_flatten",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS amounts__price,
           o_totalprice * 0.07 AS amounts__tax_est,
           array_to_string([o_orderpriority, o_orderstatus], ',') AS flags
    FROM orders
    """,
)
def singer_ingest_flatten(spark, sf_dir):
    """R2+R3+R4+R6 end-to-end: parse envelope JSON, validate against the
    stream's JSON schema, apply the derived StructType, flatten nested
    objects to parent__child. Oracle recomputes from the source table —
    a lossless round trip is the only way the hashes match. The `flags`
    array survives the pipeline typed (lossless mode); only the OUTPUT
    serializes it, because the driver comparator can't hash list cells."""
    lines = _orders_as_singer_lines(spark, sf_dir)
    messages = parse_message_lines(lines)
    plan = StreamPlan(stream="orders", json_schema=_ORDERS_SCHEMA)
    flat = records_for_stream(messages, plan, validate="strict")
    return flat.withColumn("id", F.col("id").cast("long")).withColumn(
        "flags", F.array_join("flags", ",")
    )


@query(
    "singer_ingest_flatten_compat",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS amounts__price,
           o_totalprice * 0.07 AS amounts__tax_est,
           '[' || '''' || o_orderpriority || ''', ''' || o_orderstatus || ''']'
             AS flags
    FROM orders
    """,
)
def singer_ingest_flatten_compat(spark, sf_dir):
    """Same pipeline in compat mode: arrays stringified exactly like the
    reference's str(list) (utils.py:61)."""
    lines = _orders_as_singer_lines(spark, sf_dir)
    messages = parse_message_lines(lines)
    plan = StreamPlan(stream="orders", json_schema=_ORDERS_SCHEMA)
    flat = records_for_stream(messages, plan, validate="none", compat=True)
    return flat.withColumn("id", F.col("id").cast("long"))


_AV_SCHEMA = {
    "type": ["null", "object"],
    "properties": {
        "id": {"type": ["null", "integer"]},
        "status": {"type": ["null", "string"]},
    },
    "required": ["id"],
}


@query(
    "singer_activate_version",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           CAST(2 AS BIGINT) AS _sdc_table_version
    FROM orders
    WHERE o_orderkey % 2 = 0
    """,
)
def singer_activate_version(spark, sf_dir):
    """L5 ACTIVATE_VERSION semantics (pipelinewise full-table sync;
    reference routes the message to a debug log, `__init__.py:144-145`
    — this is SURVEY §2A's upgrade path): a log carries version-1
    records (an old sync), then version-2 records (a full re-sync),
    then ACTIVATE_VERSION 2 — the surviving table is EXACTLY the
    version-2 rows; version-1 rows are superseded even though they
    arrived first. The same predicate drives the sink's
    dynamic-partition-overwrite swap (`sink.activate_version_swap`,
    exercised on disk by tests/test_singer.py)."""
    import json as _json

    o = t(spark, sf_dir, "orders")

    def lines(pred, version):
        return o.filter(pred).select(
            F.to_json(
                F.struct(
                    F.lit("RECORD").alias("type"),
                    F.lit("orders").alias("stream"),
                    F.struct(
                        F.col("o_orderkey").alias("id"),
                        F.col("o_orderstatus").alias("status"),
                    ).alias("record"),
                    F.lit(version).alias("version"),
                )
            ).alias("value")
        )

    v1 = lines(F.col("o_orderkey") < 1000, 1)
    v2 = lines(F.col("o_orderkey") % 2 == 0, 2)
    activate = spark.createDataFrame(
        [
            (
                _json.dumps(
                    {"type": "ACTIVATE_VERSION", "stream": "orders", "version": 2}
                ),
            )
        ],
        "value string",
    )
    messages = parse_message_lines(v1.unionAll(v2).unionAll(activate))
    plan = StreamPlan(stream="orders", json_schema=_AV_SCHEMA)
    recs = records_for_stream(messages, plan, validate="strict", with_version=True)
    activations = collect_control_plane(messages, in_force={"orders": plan})[2]
    active = activations["orders"]
    return recs.filter(
        F.coalesce(F.col("_sdc_table_version"), F.lit(active)) == active
    ).withColumn("id", F.col("id").cast("long"))


@query(
    "singer_validate_quarantine",
    """
    SELECT o_orderkey AS id,
           CASE WHEN o_orderstatus IS NULL THEN NULL
                WHEN LENGTH(o_orderstatus) > 8 THEN 'maxLength:status'
                END AS _validation_error
    FROM orders
    """,
)
def singer_validate_quarantine(spark, sf_dir):
    """R4 permissive mode: the native when-check validator emits a
    quarantine column instead of failing the run (all rows clean on
    this data — the negative path is pinned by tests/test_singer.py)."""
    lines = _orders_as_singer_lines(spark, sf_dir)
    messages = parse_message_lines(lines)
    plan = StreamPlan(stream="orders", json_schema=_ORDERS_SCHEMA)
    flat = records_for_stream(messages, plan, validate="permissive")
    return flat.select(
        F.col("id").cast("long").alias("id"), "_validation_error"
    )


@query(
    "singer_python_datasource",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS price
    FROM orders
    """,
)
def singer_python_datasource(spark, sf_dir):
    """Singer log read through the Spark 4 Python DataSource API
    (`sources/pyds.py`): the orders table is serialized to Singer
    RECORD JSONL files (executor-side `to_json`), then read back with
    `spark.read.format("singer_jsonl")` — a registered custom source
    whose planner fans out one task per log file — and re-typed with
    `from_json`. The oracle is the source table itself, so envelope
    parsing, record canonicalization, and float round-tripping are all
    under the hash. The reference only ever consumes this format via
    a single-process stdin pipe (reference `__init__.py:352`)."""
    import hashlib
    import os

    from pyspark.sql import types as T

    from target_s3_parquet_spark.sources.pyds import register

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".roundtrip",
        f"singer_pyds_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    o = t(spark, sf_dir, "orders")
    record = F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    lines = o.select(
        F.to_json(
            F.struct(
                F.lit("RECORD").alias("type"),
                F.lit("orders").alias("stream"),
                record.alias("record"),
            )
        ).alias("value")
    )
    lines.coalesce(4).write.mode("overwrite").text(scratch)

    register(spark)
    raw = spark.read.format("singer_jsonl").load(scratch)
    rec_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    return (
        raw.filter(
            (F.col("msg_type") == "RECORD") & (F.col("stream") == "orders")
        )
        .select(F.from_json("record", rec_schema).alias("r"))
        .select("r.id", "r.status", "r.price")
    )


@query(
    "singer_pyds_write_roundtrip",
    """
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS price
    FROM orders
    """,
)
def singer_pyds_write_roundtrip(spark, sf_dir):
    """WRITE half of the Python DataSource connector
    (`pyds.SingerJsonlWriter`): orders flow out through
    ``df.write.format("singer_jsonl")`` — one task, one hidden temp
    file, published by driver-side rename at commit (a failed or
    speculated task never surfaces a partial file) — then back in
    through the READ half of the same connector, re-typed with
    `from_json`. The oracle is the source table, so the entire
    out-and-back trip (task serialization, commit protocol, envelope
    parse, float round-trip via shortest-repr JSON) sits under the
    value hash. The reference has no write-side Singer surface at all
    (it only consumes stdin); this makes the format symmetric."""
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from target_s3_parquet_spark.sources.pyds import register

    register(spark)
    tmp = tempfile.mkdtemp(prefix="singer_pyds_w_")
    out = os.path.join(tmp, "log")
    try:
        o = t(spark, sf_dir, "orders").select(
            F.lit("orders").alias("stream"),
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        o.write.format("singer_jsonl").mode("append").save(out)
        raw = spark.read.format("singer_jsonl").load(out)
        rec = F.from_json(
            F.col("record"),
            T.StructType()
            .add("id", T.LongType())
            .add("status", T.StringType())
            .add("price", T.DoubleType()),
        )
        back = raw.filter(F.col("msg_type") == "RECORD").select(
            rec["id"].alias("id"),
            rec["status"].alias("status"),
            rec["price"].alias("price"),
        )
        return snapshot_persisted(back, "pyds_roundtrip")  # sf-proportional
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
