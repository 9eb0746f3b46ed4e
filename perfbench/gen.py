"""Seeded Debezium changelog generator.

Everything here is NumPy + pyarrow: no Spark, so the inputs exist before
the program under test starts and the program only ever sees files.
A changelog is a Kafka-shaped table ``(topic, partition, offset, key,
value)`` whose ``value`` is a Debezium 2.x JSON envelope, bare or
``{"payload": ...}``-wrapped, with MySQL row-image-FULL ``before`` and
``after`` images.  The mix carries deletes, poison records, tombstones
(null value) and op ``t`` (truncate) records, which the program must
dead-letter or skip.  Offsets are unique and increasing, so "last write
per key" is well defined.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DB = "app"
TOPIC_PREFIX = "dbserver1"

FIRST = [f"{a}{b}" for a in ("Al", "Be", "Ca", "Da", "El", "Fa", "Ga", "Ha") for b in ("ex", "na", "ri", "to", "lu")]
LAST = [f"{a}{b}" for a in ("Smi", "Jon", "Bro", "Gar", "Mil", "Dav", "Lop", "Wil") for b in ("th", "es", "wn", "cia", "ler")]
WORDS = ["red", "green", "blue", "amber", "teal", "gold", "onyx", "ivory", "jade", "ruby"]


@dataclass(frozen=True)
class TableSpec:
    """One source table: ordered ``(column, type)`` pairs, with type one of
    ``bigint``, ``int``, ``double``, ``string``, ``boolean``; the primary
    key columns, which must be ``bigint``; and the number of distinct keys."""

    name: str
    columns: tuple[tuple[str, str], ...]
    pk: tuple[str, ...]
    n_keys: int

    @property
    def row_cols(self) -> list[str]:
        return [c for c, _ in self.columns if c not in self.pk]


CUSTOMERS = TableSpec(
    "customers",
    (
        ("id", "bigint"),
        ("first_name", "string"),
        ("last_name", "string"),
        ("email", "string"),
        ("created_at", "bigint"),
        ("balance", "double"),
        ("tier", "int"),
        ("active", "boolean"),
    ),
    ("id",),
    100_000,
)

# Six tables of 3 to 12 columns for the router; ``order_lines`` has a
# composite key and ``inventory`` is renamed to ``stock`` by a map.* line.
ROUTER_TABLES = (
    CUSTOMERS,
    TableSpec(
        "orders",
        (("id", "bigint"), ("order_date", "bigint"), ("purchaser", "bigint"), ("quantity", "int"), ("product", "string")),
        ("id",),
        60_000,
    ),
    TableSpec(
        "order_lines",
        (("order_id", "bigint"), ("line_no", "bigint"), ("sku", "string"), ("qty", "int"), ("price", "double")),
        ("order_id", "line_no"),
        80_000,
    ),
    TableSpec(
        "products",
        (
            ("id", "bigint"),
            ("name", "string"),
            ("brand", "string"),
            ("category", "string"),
            ("color", "string"),
            ("size", "int"),
            ("weight", "double"),
            ("price", "double"),
            ("cost", "double"),
            ("stock_level", "int"),
            ("discontinued", "boolean"),
            ("updated_at", "bigint"),
        ),
        ("id",),
        20_000,
    ),
    TableSpec("tags", (("id", "bigint"), ("label", "string"), ("weight", "double")), ("id",), 5_000),
    TableSpec(
        "inventory",
        (("id", "bigint"), ("warehouse", "string"), ("on_hand", "int"), ("reserved", "int"), ("updated_at", "bigint"), ("value", "double")),
        ("id",),
        30_000,
    ),
)
ROUTER_PROPERTIES = "pk.order_lines=order_id,line_no\nmap.inventory=stock\n"

# Share of each record kind in a changelog (the rest are c/r/u upserts).
DELETE_FRAC = 0.05
PAYLOAD_FRAC = 0.5
POISON_FRAC = 0.005
TOMBSTONE_FRAC = 0.005
TRUNCATE_FRAC = 0.0005
ZIPF_S = 1.1

_BASE_MS = 1_700_000_000_000


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int) -> np.ndarray:
    """``n`` draws from a Zipf(s) law over ``n_keys`` ranks, with ranks
    scattered over the key space so the hot keys are not the low ids."""
    w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _values(rng: np.random.Generator, typ: str, key_idx: np.ndarray) -> pa.Array:
    """JSON text of one column for each row."""
    n = len(key_idx)
    if typ == "bigint":
        return _str(_BASE_MS + rng.integers(0, 10**9, n))
    if typ == "int":
        return _str(rng.integers(0, 1000, n))
    if typ == "double":
        return _str(rng.integers(0, 10**7, n) / 100.0)
    if typ == "boolean":
        return pc.if_else(pa.array(rng.random(n) < 0.5), "true", "false")
    words = np.array(WORDS + FIRST + LAST)
    return pc.binary_join_element_wise(
        '"', pa.array(words[rng.integers(0, len(words), n)]), "-", _str(key_idx), '"', ""
    )


def _pk_values(spec: TableSpec, key_idx: np.ndarray) -> list[pa.Array]:
    """Key index -> JSON text of each pk column (composite keys split the
    index as ``(idx // 8, idx % 8)``)."""
    if len(spec.pk) == 1:
        return [_str(key_idx + 1)]
    return [_str(key_idx // 8 + 1), _str(key_idx % 8 + 1)]


def _row_images(rng: np.random.Generator, spec: TableSpec, key_idx: np.ndarray) -> pa.Array:
    pk_vals = dict(zip(spec.pk, _pk_values(spec, key_idx)))
    parts: list = []
    for i, (col, typ) in enumerate(spec.columns):
        val = pk_vals[col] if col in pk_vals else _values(rng, typ, key_idx)
        if col == "email":
            val = pc.binary_join_element_wise('"user', pk_vals["id"], '@example.com"', "")
        parts += [("{" if i == 0 else ",") + f'"{col}":', val]
    return pc.binary_join_element_wise(*parts, "}", "")


def changelog(
    seed: int,
    spec: TableSpec,
    n: int,
    offset0: int = 0,
    *,
    snapshot: bool = False,
) -> pa.Table:
    """``n`` change records for ``spec`` starting at offset ``offset0``.

    ``snapshot=True`` gives the initial-load shape instead: every key once,
    op ``r``, no deletes or bad records (``n`` is then ``spec.n_keys``)."""
    rng = np.random.default_rng([seed, offset0, zlib.crc32(spec.name.encode())])
    if snapshot:
        n = spec.n_keys
        keys = np.arange(n)
        op = np.full(n, "r", dtype=object)
    else:
        keys = _zipf_keys(rng, n, spec.n_keys)
        op = np.full(n, "u", dtype=object)
        _, first = np.unique(keys, return_index=True)
        op[first] = np.where(rng.random(len(first)) < 0.2, "r", "c")
        op[(rng.random(n) < DELETE_FRAC) & (op == "u")] = "d"
    after = _row_images(rng, spec, keys)
    before = _row_images(rng, spec, keys)
    ts = _str(_BASE_MS + offset0 + np.arange(n))
    is_d = pa.array(op == "d")
    has_before = pa.array((op == "u") | (op == "d"))
    op_arr = pa.array(op.astype(str))
    env = pc.binary_join_element_wise(
        '{"before":',
        pc.if_else(has_before, before, "null"),
        ',"after":',
        pc.if_else(is_d, "null", after),
        f',"source":{{"db":"{DB}","table":"{spec.name}","ts_ms":',
        ts,
        '},"op":"',
        op_arr,
        '","ts_ms":',
        ts,
        "}",
        "",
    )
    if not snapshot:
        kind = rng.random(n)
        wrapped = pc.binary_join_element_wise('{"payload":', env, "}", "")
        env = pc.if_else(pa.array(rng.random(n) < PAYLOAD_FRAC), wrapped, env)
        truncate = pc.binary_join_element_wise(
            f'{{"before":null,"after":null,"source":{{"db":"{DB}","table":"{spec.name}","ts_ms":',
            ts,
            '},"op":"t","ts_ms":',
            ts,
            "}",
            "",
        )
        # Poison: half unparseable text, half JSON cut off before "op".
        poison = pc.if_else(
            pa.array(rng.random(n) < 0.5),
            pc.binary_join_element_wise("not-json ", ts, ""),
            pc.utf8_slice_codeunits(env, 0, 30),
        )
        bad = kind < POISON_FRAC
        tomb = (kind >= POISON_FRAC) & (kind < POISON_FRAC + TOMBSTONE_FRAC)
        trunc = (kind >= POISON_FRAC + TOMBSTONE_FRAC) & (kind < POISON_FRAC + TOMBSTONE_FRAC + TRUNCATE_FRAC)
        env = pc.if_else(pa.array(bad), poison, env)
        env = pc.if_else(pa.array(trunc), truncate, env)
        env = pc.if_else(pa.array(tomb), pa.nulls(n, pa.string()), env)
    pk_parts: list = []
    for i, (col, val) in enumerate(zip(spec.pk, _pk_values(spec, keys))):
        pk_parts += [("{" if i == 0 else ",") + f'"{col}":', val]
    key = pc.binary_join_element_wise(*pk_parts, "}", "")
    return pa.table(
        {
            "topic": pa.array([f"{TOPIC_PREFIX}.{DB}.{spec.name}"] * n),
            "partition": pa.array(np.zeros(n, dtype=np.int32)),
            "offset": pa.array(offset0 + np.arange(n, dtype=np.int64)),
            "key": key,
            "value": env,
        }
    )


def mixed_changelog(seed: int, specs: tuple[TableSpec, ...], n: int, offset0: int) -> pa.Table:
    """One stream carrying ``n`` records over several tables, interleaved
    by a seeded shuffle and re-numbered with increasing offsets."""
    rng = np.random.default_rng([seed, offset0])
    share = np.array([s.n_keys for s in specs], dtype=float)
    counts = rng.multinomial(n, share / share.sum())
    parts = [changelog(seed, s, int(c), offset0 + i * n) for i, (s, c) in enumerate(zip(specs, counts))]
    table = pa.concat_tables(parts)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    return table.set_column(2, "offset", pa.array(offset0 + np.arange(table.num_rows, dtype=np.int64)))


ROW_GROUPS = 16


def write(table: pa.Table, path: str) -> str:
    """Write ``table`` as ``ROW_GROUPS`` row groups: a row group is the unit
    a Parquet scan splits on, so a large input reaches every core."""
    pq.write_table(table, path, compression="snappy", row_group_size=max(1, -(-table.num_rows // ROW_GROUPS)))
    return path
