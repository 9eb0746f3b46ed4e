"""Wire-fidelity: decode realistic Debezium 2.x MySQL envelopes.

The CDC queries synthesize minimal envelopes; this suite feeds the
decoder the FULL event shapes the Debezium MySQL connector documents
publicly — schemas-enabled (`{"schema": …, "payload": …}` wrapper,
what the reference would see if JsonConverter schemas were left on),
schemas-disabled bare envelopes (the reference's actual config,
connectors/mysql-source.json:30-31), a rich `source` block with every
documented field, snapshot reads (op=r), deletes with tombstones, and
epoch-millis temporal columns (time.precision.mode=connect).  The
decoder must take what it knows and ignore the rest — matching
Consumer.java:138-149, which plucks op/before/after/source and skips
everything else.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    apply_changes,
    compact,
    with_change_columns,
)

CUSTOMERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("created_at", T.LongType()),  # epoch millis (connect mode)
    ]
)


def _source_block(table: str, ts_ms: int, snapshot: str = "false") -> dict:
    """Every field the Debezium MySQL source info block documents."""
    return {
        "version": "2.6.0.Final",
        "connector": "mysql",
        "name": "dbserver1",
        "ts_ms": ts_ms,
        "snapshot": snapshot,
        "db": "app",
        "sequence": None,
        "table": table,
        "server_id": 184054,
        "gtid": "3f1c8b90-1q2w:1-77",
        "file": "binlog.000003",
        "pos": 3967,
        "row": 0,
        "thread": 13,
        "query": None,
    }


def _row(id_, first, last, email, created_ms):
    return {
        "id": id_,
        "first_name": first,
        "last_name": last,
        "email": email,
        "created_at": created_ms,
    }


def _envelope(op, before, after, table="customers", ts_ms=1711000000000, snapshot="false"):
    return {
        "before": before,
        "after": after,
        "source": _source_block(table, ts_ms, snapshot),
        "op": op,
        "ts_ms": ts_ms + 3,
        "transaction": None,
    }


def _schema_wrapped(payload: dict) -> str:
    """Schemas-enabled JsonConverter shape: {"schema": {...}, "payload": {...}}.
    The decoder's payload-or-root coalesce must find the payload."""
    schema_stub = {
        "type": "struct",
        "fields": [{"type": "struct", "field": "after", "optional": True}],
        "optional": False,
        "name": "dbserver1.app.customers.Envelope",
    }
    return json.dumps({"schema": schema_stub, "payload": payload})


def _events(spark):
    rows = [
        # snapshot read (op=r), schemas DISABLED (bare envelope)
        (json.dumps(_envelope("r", None, _row(1, "Anne", "K", "a@x.io", 1700000000000), snapshot="true")), 0),
        # insert, schemas ENABLED (schema+payload wrapper)
        (_schema_wrapped(_envelope("c", None, _row(2, "Bob", "L", "b@x.io", 1700000001000))), 1),
        # update for id=1 (before AND after images present)
        (json.dumps(_envelope(
            "u",
            _row(1, "Anne", "K", "a@x.io", 1700000000000),
            _row(1, "Anne", "K", "anne@x.io", 1700000000000),
        )), 2),
        # delete for id=2 (before image only) …
        (json.dumps(_envelope("d", _row(2, "Bob", "L", "b@x.io", 1700000001000), None)), 3),
        # … followed by the Kafka tombstone Debezium emits after a delete
        (None, 4),
    ]
    return spark.createDataFrame(rows, "value string, offset long")


def test_full_wire_envelopes_decode_and_materialize(spark):
    decoded = decode_envelope(_events(spark), CUSTOMERS_SCHEMA, topic_col=None)
    events = with_change_columns(decoded)
    state = apply_changes(
        None, compact(events, ["id"]), ["id"], ["first_name", "last_name", "email", "created_at"]
    )
    rows = {r["id"]: r.asDict() for r in state.collect()}
    # id=2 was deleted; id=1 survives with the UPDATED email
    assert set(rows) == {1}
    assert rows[1]["email"] == "anne@x.io"
    assert rows[1]["first_name"] == "Anne"
    # epoch-millis temporal decodes to the exact wire value
    assert rows[1]["created_at"] == 1700000000000


def test_source_metadata_and_snapshot_op_survive_decode(spark):
    decoded = decode_envelope(_events(spark), CUSTOMERS_SCHEMA, topic_col=None)
    by_off = {r["offset"]: r for r in decoded.collect()}
    # rich source block: db/table extracted, extra fields ignored
    assert by_off[0]["src_db"] == "app" and by_off[0]["src_table"] == "customers"
    assert by_off[0]["op"] == "r"  # snapshot read
    assert by_off[1]["op"] == "c"  # through the schema+payload wrapper
    assert by_off[2]["before"]["email"] == "a@x.io"
    assert by_off[2]["after"]["email"] == "anne@x.io"
    assert by_off[3]["after"] is None  # delete carries no after image
    assert by_off[4]["_tombstone"] and by_off[4]["_error"] is None


def test_schema_wrapper_and_bare_mix_in_one_batch(spark):
    """The reference handles both shapes record-by-record
    (Consumer.java:139-140); the decoder must too, within one frame."""
    decoded = decode_envelope(_events(spark), CUSTOMERS_SCHEMA, topic_col=None)
    ok = decoded.where(F.col("_error").isNull() & ~F.col("_tombstone"))
    assert ok.count() == 4
    assert decoded.where(F.col("_error").isNotNull()).count() == 0


def test_encode_envelope_wire_shape(spark):
    """Egress records look like Debezium JsonConverter output: explicit
    'before': null on inserts, full source block, PK-JSON key, prefixed
    topic; wrap=True adds the schemas-enabled payload shell."""
    from mysql_postgres_debezium_cdc_spark.sources.debezium import encode_envelope

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    changes = spark.createDataFrame(
        [
            ("c", None, (1, "alice"), 1700000000001),
            ("d", (2, "bob"), None, 1700000000002),
        ],
        T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("before", schema),
                T.StructField("after", schema),
                T.StructField("ts_ms", T.LongType()),
            ]
        ),
    )
    enc = {
        json.loads(r["key"])["id"]: r
        for r in encode_envelope(changes, "app", "customers", ("id",)).collect()
    }
    assert set(enc) == {1, 2}
    insert = json.loads(enc[1]["value"])
    assert insert["before"] is None and insert["after"] == {"id": 1, "name": "alice"}
    assert insert["source"] == {"db": "app", "table": "customers", "ts_ms": 1700000000001}
    assert insert["op"] == "c"
    delete = json.loads(enc[2]["value"])
    assert delete["after"] is None and delete["before"]["name"] == "bob"
    assert enc[1]["topic"] == "dbserver1.app.customers"

    wrapped = encode_envelope(changes, "app", "customers", ("id",), wrap=True).collect()
    body = json.loads(wrapped[0]["value"])
    assert set(body) == {"payload"} and body["payload"]["op"] in ("c", "d")
    # Wrapped egress decodes through the same payload-or-root unwrap.
    dec = decode_envelope(
        encode_envelope(changes, "app", "customers", ("id",), wrap=True), schema
    )
    assert {r["op"] for r in dec.collect()} == {"c", "d"}


def test_decode_replaces_reserved_input_columns(spark):
    """A frame that already carries `_tombstone`/`_error` (e.g. one that
    was decoded before) comes out with ONE column of each name, holding
    the values this decode computed — not the stale input values."""
    stale = _events(spark).selectExpr(
        "*", "NOT (value IS NULL) AS _tombstone", "'stale' AS _error"
    )
    decoded = decode_envelope(stale, CUSTOMERS_SCHEMA, topic_col=None)
    cols = decoded.columns
    assert len(cols) == len(set(cols)), cols
    assert "_env" not in cols
    by_off = {r["offset"]: r for r in decoded.collect()}
    assert all(by_off[o]["_tombstone"] is False for o in range(4))
    assert by_off[4]["_tombstone"] is True
    assert all(r["_error"] is None for r in by_off.values())
