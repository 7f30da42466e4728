"""Seeded Singer message-log generator for the ingest workloads.

The log interleaves six streams; ``orders`` carries about half of the
records. Records nest two to three levels deep, carry arrays and JSON
nulls, and every value satisfies its stream's ``required``,
``maxLength`` and ``minimum``/``maximum`` constraints, so strict
validation passes. A STATE bookmark follows about every ``state_every``
records. Alongside the lines the generator returns, per stream, the
figures that the Parquet read-back must reproduce (see ``Expected``).
"""

from __future__ import annotations

import json
import random
import zlib
from dataclasses import dataclass, field

SCHEMAS: dict[str, dict] = {
    "orders": {
        "type": ["null", "object"],
        "required": ["id", "status"],
        "properties": {
            "id": {"type": ["integer"]},
            "status": {"type": ["null", "string"], "maxLength": 12},
            "total": {"type": ["null", "number"]},
            "created_at": {"type": ["null", "string"], "format": "date-time"},
            "customer": {
                "type": ["null", "object"],
                "properties": {
                    "id": {"type": ["null", "integer"]},
                    "name": {"type": ["null", "string"], "maxLength": 40},
                    "address": {
                        "type": ["null", "object"],
                        "properties": {
                            "city": {"type": ["null", "string"], "maxLength": 24},
                            "zip": {"type": ["null", "string"], "maxLength": 10},
                            "geo": {
                                "type": ["null", "object"],
                                "properties": {
                                    "lat": {"type": ["null", "number"]},
                                    "lon": {"type": ["null", "number"]},
                                },
                            },
                        },
                    },
                },
            },
            "skus": {"type": ["null", "array"], "items": {"type": ["null", "string"]}},
        },
    },
    "clicks": {
        "type": ["null", "object"],
        "required": ["id"],
        "properties": {
            "id": {"type": ["integer"]},
            "at": {"type": ["null", "string"], "format": "date-time"},
            "meta": {
                "type": ["null", "object"],
                "properties": {
                    "page": {"type": ["null", "string"], "maxLength": 64},
                    "depth": {"type": ["null", "integer"], "minimum": 0, "maximum": 100},
                    "ref": {
                        "type": ["null", "object"],
                        "properties": {
                            "host": {"type": ["null", "string"]},
                            "campaign": {"type": ["null", "string"]},
                        },
                    },
                },
            },
            "tags": {"type": ["null", "array"], "items": {"type": ["null", "string"]}},
        },
    },
    "users": {
        "type": ["null", "object"],
        "required": ["id", "name"],
        "properties": {
            "id": {"type": ["integer"], "minimum": 0, "maximum": 2147483647},
            "name": {"type": ["null", "string"], "maxLength": 32},
            "score": {"type": ["null", "number"]},
            "prefs": {
                "type": ["null", "object"],
                "properties": {
                    "lang": {"type": ["null", "string"], "maxLength": 5},
                    "tz": {"type": ["null", "string"]},
                },
            },
        },
    },
    "payments": {
        "type": ["null", "object"],
        "required": ["id", "amount"],
        "properties": {
            "id": {"type": ["integer"]},
            "order_id": {"type": ["null", "integer"]},
            "amount": {"type": ["number"]},
            "method": {"type": ["null", "string"], "maxLength": 16},
            "card": {
                "type": ["null", "object"],
                "properties": {
                    "brand": {"type": ["null", "string"]},
                    "last4": {"type": ["null", "string"], "maxLength": 4},
                },
            },
        },
    },
    "inventory": {
        "type": ["null", "object"],
        "required": ["id"],
        "properties": {
            "id": {"type": ["integer"]},
            "sku": {"type": ["null", "string"], "maxLength": 24},
            "qty": {"type": ["null", "integer"], "minimum": 0},
            "warehouse": {
                "type": ["null", "object"],
                "properties": {
                    "code": {"type": ["null", "string"]},
                    "loc": {
                        "type": ["null", "object"],
                        "properties": {
                            "lat": {"type": ["null", "number"]},
                            "lon": {"type": ["null", "number"]},
                        },
                    },
                },
            },
        },
    },
    "sessions": {
        "type": ["null", "object"],
        "required": ["id"],
        "properties": {
            "id": {"type": ["integer"]},
            "user_id": {"type": ["null", "integer"]},
            "dur_s": {"type": ["null", "number"]},
            "pages": {"type": ["null", "array"], "items": {"type": ["null", "integer"]}},
        },
    },
}

# Share of RECORD messages per stream.
WEIGHTS = {
    "orders": 0.50,
    "clicks": 0.20,
    "users": 0.08,
    "payments": 0.10,
    "inventory": 0.07,
    "sessions": 0.05,
}

# Per stream: the flattened string column whose crc32 the read-back sums.
HASHED = {
    "orders": "customer__address__city",
    "clicks": "meta__ref__campaign",
    "users": "prefs__lang",
    "payments": "card__last4",
    "inventory": "warehouse__code",
    "sessions": None,
}

# Per stream: the array column whose element count the read-back sums.
ARRAYS = {"orders": "skus", "clicks": "tags", "sessions": "pages"}

_CITIES = ["Lyon", "Porto", "Tartu", "Kraków", "Cork", "Bergen", "Graz", "Gent"]
_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]


@dataclass
class Expected:
    """What one stream's Parquet output must hold: the row count, the
    sum of ``id``, the summed crc32 of the stream's ``HASHED`` column
    (nulls count as 0) and the summed length of its ``ARRAYS`` column
    (null arrays count as 0)."""

    rows: int = 0
    id_sum: int = 0
    crc_sum: int = 0
    array_len_sum: int = 0


@dataclass
class SingerLog:
    lines: list[str]
    records: int
    expected: dict[str, Expected]
    last_state: str
    # index into ``lines`` of each STATE message, in log order
    state_lines: list[int] = field(default_factory=list)


def _maybe(rng: random.Random, value, p_null: float = 0.1):
    return None if rng.random() < p_null else value


def _ts(rng: random.Random) -> str:
    return (
        f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z"
    )


def _record(stream: str, rid: int, rng: random.Random) -> dict:
    if stream == "orders":
        geo = _maybe(rng, {"lat": round(rng.uniform(-90, 90), 5),
                           "lon": round(rng.uniform(-180, 180), 5)})
        addr = _maybe(rng, {"city": _maybe(rng, rng.choice(_CITIES)),
                            "zip": f"{rng.randint(0, 99999):05d}", "geo": geo})
        return {
            "id": rid,
            "status": rng.choice(["open", "paid", "shipped", "cancelled", None]),
            "total": _maybe(rng, round(rng.uniform(1, 5000), 2)),
            "created_at": _ts(rng),
            "customer": _maybe(rng, {"id": rng.randint(1, 50000),
                                     "name": f"Customer {rng.randint(0, 99999)}",
                                     "address": addr}, 0.05),
            "skus": _maybe(rng, [f"SKU-{rng.randint(0, 9999)}"
                                 for _ in range(rng.randint(0, 4))]),
        }
    if stream == "clicks":
        ref = _maybe(rng, {"host": rng.choice(["a.example", "b.example", None]),
                           "campaign": _maybe(rng, rng.choice(_WORDS), 0.3)})
        return {
            "id": rid,
            "at": _ts(rng),
            "meta": _maybe(rng, {"page": f"/p/{rng.randint(0, 500)}",
                                 "depth": rng.randint(0, 100), "ref": ref}),
            "tags": _maybe(rng, rng.sample(_WORDS, rng.randint(0, 3))),
        }
    if stream == "users":
        return {
            "id": rid,
            "name": f"user{rid}",
            "score": _maybe(rng, round(rng.uniform(0, 100), 3)),
            "prefs": _maybe(rng, {"lang": rng.choice(["en", "de", "fr", "pt-BR", None]),
                                  "tz": rng.choice(["UTC", "Europe/Berlin"])}),
        }
    if stream == "payments":
        return {
            "id": rid,
            "order_id": _maybe(rng, rng.randint(0, 10**6)),
            "amount": round(rng.uniform(0.5, 900), 2),
            "method": rng.choice(["card", "transfer", "wallet", None]),
            "card": _maybe(rng, {"brand": rng.choice(["visa", "mc"]),
                                 "last4": f"{rng.randint(0, 9999):04d}"}, 0.3),
        }
    if stream == "inventory":
        loc = _maybe(rng, {"lat": round(rng.uniform(-90, 90), 4),
                           "lon": round(rng.uniform(-180, 180), 4)})
        return {
            "id": rid,
            "sku": f"SKU-{rng.randint(0, 9999)}",
            "qty": _maybe(rng, rng.randint(0, 500)),
            "warehouse": _maybe(rng, {"code": f"W{rng.randint(0, 40)}", "loc": loc}),
        }
    return {
        "id": rid,
        "user_id": _maybe(rng, rng.randint(0, 50000)),
        "dur_s": _maybe(rng, round(rng.uniform(0, 3600), 1)),
        "pages": _maybe(rng, [rng.randint(0, 500) for _ in range(rng.randint(0, 5))]),
    }


def _dig(rec: dict, dotted: str):
    cur = rec
    for part in dotted.split("__"):
        if not isinstance(cur, dict):
            return None
        cur = cur.get(part)
    return cur


def _msg(**kw) -> str:
    return json.dumps(kw, separators=(",", ":"))


def generate(seed: int, n_records: int, state_every: int) -> SingerLog:
    """Build the message log: SCHEMAs first, then interleaved RECORDs
    with a STATE bookmark after about every ``state_every`` records and
    one final STATE."""
    rng = random.Random(seed)
    streams = list(SCHEMAS)
    weights = [WEIGHTS[s] for s in streams]
    lines = [
        _msg(type="SCHEMA", stream=s, schema=SCHEMAS[s], key_properties=["id"])
        for s in streams
    ]
    expected = {s: Expected() for s in streams}
    next_id = {s: 0 for s in streams}
    state_lines: list[int] = []
    state = ""
    since_state = 0
    for _ in range(n_records):
        s = rng.choices(streams, weights)[0]
        rid = next_id[s] = next_id[s] + 1
        rec = _record(s, rid, rng)
        lines.append(_msg(type="RECORD", stream=s, record=rec))
        e = expected[s]
        e.rows += 1
        e.id_sum += rid
        if HASHED[s]:
            v = _dig(rec, HASHED[s])
            if v is not None:
                e.crc_sum += zlib.crc32(v.encode())
        if s in ARRAYS and rec.get(ARRAYS[s]) is not None:
            e.array_len_sum += len(rec[ARRAYS[s]])
        since_state += 1
        if since_state >= state_every:
            since_state = 0
            state = _msg(type="STATE", value={"bookmarks": dict(next_id)})
            state_lines.append(len(lines))
            lines.append(state)
    state = _msg(type="STATE", value={"bookmarks": dict(next_id), "done": True})
    state_lines.append(len(lines))
    lines.append(state)
    return SingerLog(
        lines=lines,
        records=n_records,
        expected=expected,
        last_state=json.dumps(json.loads(state)["value"], separators=(",", ":")),
        state_lines=state_lines,
    )
