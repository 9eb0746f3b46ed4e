"""Debezium change-event envelope: schema, decode expressions, routing.

Re-expresses the reference consumer's parse/route stages as pure
Catalyst column expressions (no per-row Java/Python):

- envelope parse + ``payload`` unwrap  → reference Consumer.java:138-149
- op/before/after/source extraction    → Consumer.java:142-149
- topic → table fallback               → Consumer.java:191-195
- table routing (``map.*``) + PK resolution (``pk.*``) with the same
  db.table → table → default precedence → Consumer.java:155-172,
  config format consumer/src/main/resources/config.properties:15-20
- dynamic per-token typing → here explicit per-table StructType with a
  MapType<string,string> fallback for schema drift (SURVEY §1.3)

Wire-format fidelity (SURVEY §1.3): timestamps arrive as epoch-millis
int64 (time.precision.mode=connect, connectors/mysql-source.json:26) →
``timestamp_millis``; decimals as JSON double
(decimal.handling.mode=double, mysql-source.json:25) → DoubleType.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

DEFAULT_PK = ("id",)  # reference default, Consumer.java:171

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def envelope_schema(row_schema: T.DataType) -> T.StructType:
    """Debezium 2.x envelope StructType for a given row-image schema.

    ``row_schema`` may be a concrete StructType (preferred) or
    ``MapType(String, String)`` for schema-drift tolerance."""
    return T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            T.StructField("source", SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )


def quote(name: str) -> str:
    """Backtick-quoted SQL identifier, for names that are not bare words
    (``kafka-offset``) or are reserved keywords (``table``)."""
    return "`" + name.replace("`", "``") + "`"


def ddl(dt: T.DataType) -> str:
    """DDL type string of ``dt`` with every field name quoted, so it parses
    back to ``dt`` even where a name is a reserved keyword under
    spark.sql.ansi.enforceReservedKeywords (Debezium's ``source.table``)."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(f"{quote(f.name)}:{ddl(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{ddl(dt.keyType)},{ddl(dt.valueType)}>"
    return dt.simpleString()


def decode_envelope(
    df: DataFrame,
    row_schema: T.DataType,
    value_col: str = "value",
    topic_col: str | None = "topic",
) -> DataFrame:
    """Kafka-shaped records → typed change events.

    Input: ``value_col`` (JSON string; may be ``{"payload": {...}}``-
    wrapped or bare — both occur, Consumer.java:139-140), optional
    ``topic_col`` for the table-name fallback, and any passthrough
    columns (``offset`` etc.), which are preserved.

    Output adds: op, before, after, src_db, src_table, ts_ms, _tombstone,
    _error (non-null for malformed/unparseable records — the per-record
    error isolation of Consumer.java:186-188 as a dead-letter column
    instead of a log line).  Input columns named ``_env``, ``_tombstone``
    or ``_error`` are replaced, not duplicated.
    """
    schema = envelope_schema(row_schema)
    wrapped_schema = T.StructType([T.StructField("payload", schema)])
    # payload-or-root unwrap with ONE parse per row on the hot path: a
    # cheap substring test picks which schema to try first (a JsonConverter
    # schemas-enabled record must literally contain `"payload"`), and the
    # lazily-evaluated coalesce only runs the second parse when the first
    # guess yields nothing — a bare envelope whose row DATA happens to
    # contain the string "payload", or a malformed record.  Outcomes are
    # identical to parsing both ways; the steady-state JSON-parse CPU
    # halves, which is the dominant decode cost on a real firehose.
    # (Rebuilding one struct from fields of a nullable from_json result
    # would trip a codegen NPE in Spark 4.1 when the parse returns null —
    # branching between two whole-struct parses sidesteps it.)
    #
    # The tree ships as SQL strings (a few py4j round trips per operator,
    # not one per DSL function; the row schema rides as its quoted DDL,
    # which parses back to the same all-nullable StructType).  It is
    # evaluated ONCE per row behind a Generate, `explode(array(env))` over
    # a one-element array: the optimizer inlines a projected expression
    # into every consumer (each field projection, and the _error/op filter
    # `with_change_columns` pushes down), which put five copies of the
    # tree in the plan, but it cannot inline through a Generate, so every
    # consumer reads `_env`.
    # `array(x)` is never null, so dead-letter and tombstone rows (null
    # `_env`) still come out.
    sch = ddl(schema)
    wsch = ddl(wrapped_schema)
    looks_wrapped = f"CONTAINS({value_col}, '\"payload\"')"
    parse_wrapped = f"from_json({value_col}, '{wsch}').payload"
    parse_bare = f"from_json({value_col}, '{sch}')"
    env = (
        f"COALESCE(CASE WHEN {looks_wrapped} THEN {parse_wrapped}"
        f" ELSE {parse_bare} END,"
        f" CASE WHEN {looks_wrapped} THEN {parse_bare}"
        f" ELSE {parse_wrapped} END)"
    )
    # `[.]` rather than `\\.`: a character class needs no backslash, so
    # the literal means the same under spark.sql.parser.escapedStringLiterals.
    topic_table = (
        f"element_at(split({topic_col}, '[.]'), -1)"
        if topic_col and topic_col in df.columns
        else "CAST(NULL AS STRING)"
    )
    # withColumn replaces an input column of the same name (`_env`,
    # `_tombstone`, `_error`: e.g. a frame decoded once before) in place.
    out = (
        df.withColumn("_env", F.expr(f"explode(array({env}))"))
        .selectExpr(
            "*",
            "_env.op AS op",
            "_env.before AS before",
            "_env.after AS after",
            "_env.source.db AS src_db",
            f"COALESCE(_env.source.`table`, {topic_table}) AS src_table",
            "_env.ts_ms AS ts_ms",
        )
    )
    # Tombstones (null/blank value, Consumer.java:133-136) are not errors;
    # anything else that yields no op is a poison record.  A PARSEABLE
    # envelope with an op outside {c,r,u,d} (Debezium also emits 't' for
    # TRUNCATE and 'm' for logical messages on some connectors) is ALSO
    # dead-lettered: with_change_columns filters to the supported ops,
    # and an op that neither materializes nor surfaces anywhere would be
    # silent data loss — the poison-record channel is exactly where an
    # operator should see "this stream contains operations I don't
    # apply".  The reference's switch DOES have a default case: it logs
    # "Unknown op" at WARN and skips the record (Consumer.java:183-184);
    # surfacing the record as a queryable dead-letter ROW instead of a
    # log line is this framework's strengthening of that contract.
    is_tombstone = f"(({value_col} IS NULL) OR (TRIM({value_col}) = ''))"
    return (
        out.withColumn("_tombstone", F.expr(is_tombstone))
        .withColumn(
            "_error",
            F.expr(
                f"CASE WHEN ((NOT {is_tombstone}) AND (op IS NULL)) THEN"
                f" CONCAT('unparseable envelope: ', SUBSTRING({value_col}, 1, 120))"
                f" WHEN ((NOT {is_tombstone}) AND"
                f" (NOT (op IN ('c', 'r', 'u', 'd')))) THEN"
                " CONCAT('unsupported op: ', op) END"
            ),
        )
        .drop("_env")
    )


def encode_envelope(
    changes: DataFrame,
    db: str,
    table: str,
    pk_cols: tuple[str, ...] | list[str] = DEFAULT_PK,
    topic_prefix: str = "dbserver1",
    wrap: bool = False,
) -> DataFrame:
    """Typed change events → Kafka-producer-shaped records — the EGRESS
    twin of :func:`decode_envelope` (outbox/re-publish: a Spark job that
    MAINTAINS a replica can also re-emit its changelog downstream).

    Input columns: ``op`` (c/r/u/d), ``before``/``after`` (row structs,
    null per Debezium op semantics), ``ts_ms``.  Output: ``key`` (JSON
    of the PK fields, Debezium's partitioning key — equal keys land in
    one Kafka partition, preserving per-key order exactly as the
    reference relies on), ``value`` (Debezium 2.x JSON envelope;
    ``wrap=True`` adds the schemas-enabled ``{"payload": ...}`` shell),
    ``topic`` (``<prefix>.<db>.<table>``, mysql-source.json:7 naming).

    ``ignoreNullFields=false`` keeps explicit ``"before": null`` on the
    wire like Debezium's JsonConverter; either way the decoder treats
    absent and null identically, which the roundtrip query certifies.

    Narrow, JVM-side (`to_json` only): encodes at scan speed; the only
    future shuffle is Kafka's own key partitioning on write."""
    key_src = F.struct(
        *[
            F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
            for c in pk_cols
        ]
    )
    source = F.struct(
        F.lit(db).alias("db"), F.lit(table).alias("table"), F.col("ts_ms").alias("ts_ms")
    )
    env = F.struct(
        F.col("before"),
        F.col("after"),
        source.alias("source"),
        F.col("op"),
        F.col("ts_ms"),
    )
    body = F.struct(env.alias("payload")) if wrap else env
    opts = {"ignoreNullFields": "false"}
    return changes.select(
        F.to_json(key_src, opts).alias("key"),
        F.to_json(body, opts).alias("value"),
        F.lit(f"{topic_prefix}.{db}.{table}").alias("topic"),
    )


def kafka_sink_options(bootstrap: str, checkpoint_dir: str) -> dict[str, str]:
    """writeStream.format('kafka') options for the egress path; the
    frame supplies per-row ``topic``/``key``/``value`` columns (the
    Kafka sink's column contract), so no static topic option is set."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "checkpointLocation": checkpoint_dir,
    }


@dataclass(frozen=True)
class CdcConfig:
    """Routing registry mirroring the reference's config.properties.

    ``pk``  : {"db.table" | "table": (pk cols…)}   (pk.* lines)
    ``table_map``: {"db.table" | "table": target}  (map.* lines)
    Resolution precedence db.table → table → default, Consumer.java:155-172.
    """

    pk: dict[str, tuple[str, ...]] = field(default_factory=dict)
    table_map: dict[str, str] = field(default_factory=dict)

    def resolve_pk(self, db: str | None, table: str) -> tuple[str, ...]:
        if db and f"{db}.{table}" in self.pk:
            return self.pk[f"{db}.{table}"]
        return self.pk.get(table, DEFAULT_PK)

    def resolve_target(self, db: str | None, table: str) -> str:
        if db and f"{db}.{table}" in self.table_map:
            return self.table_map[f"{db}.{table}"]
        return self.table_map.get(table, table.lower())

    @classmethod
    def from_properties(cls, text: str) -> "CdcConfig":
        """Parse the reference's config.properties format (pk.*/map.* keys,
        comma-separated multi-column PKs — Consumer.java:77-91)."""
        pk: dict[str, tuple[str, ...]] = {}
        table_map: dict[str, str] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            key, _, val = line.partition("=")
            key, val = key.strip(), val.strip()
            if key.startswith("pk."):
                pk[key[3:]] = tuple(c.strip() for c in val.split(",") if c.strip())
            elif key.startswith("map."):
                table_map[key[4:]] = val
        return cls(pk=pk, table_map=table_map)


#: The schema Spark's Kafka source emits at runtime (spark-sql-kafka's
#: fixed output columns).  Tests project a static frame with THIS schema
#: through `project_kafka_frame` so the projection/cast plumbing is
#: value-checked even when no broker (or connector jar) is present —
#: the only untested piece is then the socket itself.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    subscribe_pattern: str,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """Reader options for the reference's S1 source, as data.

    Mirrors the reference consumer's subscription: regex multi-topic
    (topic.regex, config.properties:6), offsets from earliest
    (auto.offset.reset, Consumer.java:111), and no fail-on-data-loss —
    the reference's at-least-once + idempotent-sink stance tolerates
    retention-expired offsets (Consumer.java:210-211 makes replays
    converge)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribePattern": subscribe_pattern,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }


def project_kafka_frame(df: DataFrame) -> DataFrame:
    """Project the raw Kafka frame to (topic, partition, offset, key,
    value, timestamp) with key/value cast binary → string (Debezium
    JSON envelopes are UTF-8 text), ready for ``decode_envelope``."""
    return df.select(
        "topic",
        "partition",
        "offset",
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "timestamp",
    )


def kafka_cdc_source(
    spark,
    bootstrap_servers: str,
    subscribe_pattern: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The reference's S1 source: regex multi-topic Kafka subscription
    (topic.regex in config.properties:6) as a Structured Streaming scan.

    Options and projection are split into `kafka_reader_options` /
    `project_kafka_frame` so both are unit-tested without a broker
    (tests/test_kafka_source.py); a live integration test runs when
    ``SPARK_KAFKA_BOOTSTRAP`` is set.  The decode/compact/merge path
    downstream is identical for file- and memory-fed streams, which are
    tested end-to-end.
    """
    return project_kafka_frame(
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(bootstrap_servers, subscribe_pattern, starting_offsets))
        .load()
    )


def epoch_millis_to_ts(col: Column) -> Column:
    """Debezium connect-mode temporal decode (SURVEY §1.3)."""
    return F.timestamp_millis(col)
