"""Independent reference: the expected replica, computed by DuckDB
straight from the raw changelog files.

The rules are written from the Debezium contract, not from the package:
a null or blank value is a tombstone and is skipped; a value that is not
valid JSON, or whose op is not one of ``c r u d``, is dropped; a
``{"payload": {...}}`` record is unwrapped; the key comes from ``after``
and falls back to ``before``; per key the record with the highest offset
wins, and a winning delete leaves the key absent.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from perfbench.gen import TableSpec

_DUCK_TYPE = {"bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE", "string": "VARCHAR", "boolean": "BOOLEAN"}
OFFSET_COL = "_cdc_offset"


_ENV = '"before": "JSON", "after": "JSON", "source": {"table": "VARCHAR"}, "op": "VARCHAR"'


def _envelopes(con: duckdb.DuckDBPyConnection, files: list[str]) -> None:
    """Parse every record once into ``_env(off, tbl, op, b, a)``, row images
    left as JSON; tombstones and records that are not JSON are dropped."""
    file_list = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE _env AS
    WITH parsed AS MATERIALIZED (
      SELECT "offset" AS off,
        CASE WHEN value IS NOT NULL AND trim(value) <> '' AND json_valid(value)
             THEN json_transform(value, '{{"payload": {{{_ENV}}}, {_ENV}}}') END AS r
      FROM read_parquet([{file_list}])
    )
    SELECT off,
      CASE WHEN r.payload IS NOT NULL THEN r.payload.source."table" ELSE r.source."table" END AS tbl,
      CASE WHEN r.payload IS NOT NULL THEN r.payload.op ELSE r.op END AS op,
      CASE WHEN r.payload IS NOT NULL THEN r.payload.before ELSE r.before END AS b,
      CASE WHEN r.payload IS NOT NULL THEN r.payload.after ELSE r.after END AS a
    FROM parsed WHERE r IS NOT NULL
    """)


def _replica_sql(spec: TableSpec) -> str:
    row = "{" + ", ".join(f'"{c}": "{_DUCK_TYPE[t]}"' for c, t in spec.columns) + "}"
    keys = ", ".join(f"COALESCE(a.{c}, b.{c}) AS _k{i}" for i, c in enumerate(spec.pk))
    key_names = ", ".join(f"_k{i}" for i in range(len(spec.pk)))
    cols = ", ".join(c for c, _ in spec.columns)
    return f"""
    WITH typed AS MATERIALIZED (
      SELECT off, op, json_transform(a, '{row}') AS a, json_transform(b, '{row}') AS b
      FROM _env WHERE tbl = '{spec.name}' AND op IN ('c', 'r', 'u', 'd')
    ), ev AS (
      SELECT off, op, {keys}, a.*
      FROM typed
    ), last AS (
      SELECT max(off) AS off FROM ev GROUP BY {key_names}
    )
    SELECT {cols}, off AS {OFFSET_COL}
    FROM ev SEMI JOIN last USING (off)
    WHERE op <> 'd'
    """


def expected(con: duckdb.DuckDBPyConnection, files: list[str], specs: list[TableSpec]) -> dict[str, pa.Table]:
    """The expected replica of each table in ``specs`` after applying
    ``files`` (Kafka-shaped parquet changelogs, any tables mixed)."""
    _envelopes(con, files)
    try:
        return {s.name: con.sql(_replica_sql(s)).arrow() for s in specs}
    finally:
        con.execute("DROP TABLE _env")


def diff(con: duckdb.DuckDBPyConnection, replica: pa.Table, want: pa.Table, spec: TableSpec) -> list[str]:
    """Mismatches between a replica and the expected table, keyed on the
    primary key: missing keys, extra keys, duplicate keys and rows whose
    values differ.  Empty means equal."""
    cols = [c for c, _ in spec.columns] + [OFFSET_COL]
    missing = set(cols) - set(replica.column_names)
    if missing:
        return [f"{spec.name}: replica lacks columns {sorted(missing)}"]
    got = replica.select(cols)
    con.register("_got", got)
    con.register("_want", want.select(cols))
    try:
        pk = ", ".join(spec.pk)
        on = " AND ".join(f"g.{c} = w.{c}" for c in spec.pk)
        same = " AND ".join(f"g.{c} IS NOT DISTINCT FROM w.{c}" for c in cols)
        dupes, extra, gone, changed = con.sql(f"""
            SELECT
              (SELECT count(*) FROM (SELECT {pk} FROM _got GROUP BY {pk} HAVING count(*) > 1)),
              (SELECT count(*) FROM _got g WHERE NOT EXISTS (SELECT 1 FROM _want w WHERE {on})),
              (SELECT count(*) FROM _want w WHERE NOT EXISTS (SELECT 1 FROM _got g WHERE {on})),
              (SELECT count(*) FROM _got g JOIN _want w ON {on} WHERE NOT ({same}))
        """).fetchone()
    finally:
        con.unregister("_got")
        con.unregister("_want")
    problems = []
    for n, what in ((dupes, "duplicate keys"), (extra, "keys not expected"), (gone, "keys missing"), (changed, "rows with wrong values")):
        if n:
            problems.append(f"{spec.name}: {n} {what}")
    return problems
