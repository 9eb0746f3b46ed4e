"""Generator determinism and the DuckDB reference, without Spark.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, oracle

SMALL = gen.TableSpec("customers", gen.CUSTOMERS.columns, ("id",), 500)


def test_same_seed_same_files(tmp_path):
    a = gen.write(gen.changelog(7, SMALL, 3000), str(tmp_path / "a.parquet"))
    b = gen.write(gen.changelog(7, SMALL, 3000), str(tmp_path / "b.parquet"))
    assert pq.read_table(a).equals(pq.read_table(b))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


def test_other_seed_other_files():
    assert not gen.changelog(7, SMALL, 3000).equals(gen.changelog(8, SMALL, 3000))
    mixed = gen.mixed_changelog(7, gen.ROUTER_TABLES, 2000, 0)
    assert mixed.equals(gen.mixed_changelog(7, gen.ROUTER_TABLES, 2000, 0))
    assert not mixed.equals(gen.mixed_changelog(8, gen.ROUTER_TABLES, 2000, 0))


def test_written_in_row_groups(tmp_path):
    """A Parquet scan splits on row groups: one group would leave every
    core but one idle."""
    path = gen.write(gen.changelog(7, SMALL, 3000), str(tmp_path / "a.parquet"))
    assert pq.ParquetFile(path).metadata.num_row_groups == gen.ROW_GROUPS


def test_changelog_carries_every_record_kind():
    t = gen.changelog(3, SMALL, 20_000)
    values = t.column("value").to_pylist()
    assert t.column("offset").to_pylist() == list(range(20_000))
    assert any(v is None for v in values)  # tombstones
    assert any(v and v.startswith("not-json") for v in values)  # poison
    assert any(v and v.startswith('{"payload"') for v in values)
    assert any(v and v.startswith('{"before"') for v in values)
    ops = {json.loads(v).get("payload", json.loads(v))["op"] for v in values if v and v.startswith("{") and v.endswith("}") and '"op"' in v}
    assert ops == {"c", "r", "u", "d", "t"}
    assert len(set(t.column("key").to_pylist())) <= SMALL.n_keys


def _env(op, before, after, table="customers"):
    return json.dumps({"before": before, "after": after, "source": {"db": "app", "table": table, "ts_ms": 0}, "op": op, "ts_ms": 0})


def _row(i, name):
    return {"id": i, "first_name": name, "last_name": "x", "email": f"{i}@e", "created_at": 1, "balance": 1.5, "tier": 2, "active": True}


def test_reference_rules(tmp_path):
    """Payload vs bare, deletes, poison, tombstones, op t and last write by
    offset (the file is deliberately not in offset order)."""
    records = [
        (5, _env("u", _row(1, "old"), _row(1, "new"))),
        (2, json.dumps({"payload": json.loads(_env("c", None, _row(1, "first")))})),
        (3, _env("c", None, _row(2, "two"))),
        (9, _env("d", _row(2, "two"), None)),
        (10, None),  # tombstone after the delete
        (4, json.dumps({"payload": json.loads(_env("r", None, _row(3, "three")))})),
        (11, _env("t", None, None)),
        (12, '{"before":null,"after":{"id":3,'),  # poison, cut before op
        (13, "not-json"),
        (14, _env("u", None, _row(4, "other table"), table="orders")),
        (1, _env("c", None, _row(4, "four"))),
        (6, _env("d", _row(4, "four"), None)),
        (7, _env("c", None, _row(4, "back"))),
    ]
    path = str(tmp_path / "log.parquet")
    pq.write_table(
        pa.table({"offset": pa.array([o for o, _ in records], pa.int64()), "value": pa.array([v for _, v in records], pa.string())}),
        path,
    )
    got = oracle.expected(duckdb.connect(), [path], [gen.CUSTOMERS])['customers'].to_pylist()
    assert sorted((r["id"], r["first_name"], r["_cdc_offset"]) for r in got) == [(1, "new", 5), (3, "three", 4), (4, "back", 7)]


def test_reference_flags_a_corrupted_replica(tmp_path):
    con = duckdb.connect()
    path = gen.write(gen.changelog(5, SMALL, 5000), str(tmp_path / "log.parquet"))
    want = oracle.expected(con, [path], [SMALL])[SMALL.name]
    assert want.num_rows > 100
    assert oracle.diff(con, want, want, SMALL) == []

    rows = want.to_pylist()
    rows = rows[1:]
    rows[0]["balance"] += 1.0  # a stale value
    corrupted = pa.Table.from_pylist(rows, schema=want.schema)
    problems = oracle.diff(con, corrupted, want, SMALL)
    assert any("1 keys missing" in p for p in problems)
    assert any("1 rows with wrong values" in p for p in problems)

    dup = pa.concat_tables([want, want.slice(0, 1)])
    assert any("duplicate keys" in p for p in oracle.diff(con, dup, want, SMALL))


def test_corrupted_replica_counts_as_failed():
    workloads = pytest.importorskip("perfbench.workloads")
    run = workloads.Run("cdc_backfill", 1, 1, False, "unused", 1)
    run.attempted = 4
    assert run.verify([], 2)
    assert run.failed == 0
    assert not run.verify(["customers: 1 keys missing"], 2)
    assert run.failed == 2
    run.duck.close()
