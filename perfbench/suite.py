"""The registry query surface: the ``bench=True`` keys that read only the
``events`` table, run the way ``bench.py`` runs them.  The cdc_stream_merge
traced run measures it once the stream has stopped.

The fixture tables are not part of the source tree, so the events table is
generated here from the seed, with the fixture's schema and value ranges.
Each key is first compared against its DuckDB oracle with
``tests/parity.py``'s ``compare`` (outside the timed region; this is also
the untimed warm pass), then built, written to a noop sink and followed by
``clearCache()`` in the timed pass.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mysql_postgres_debezium_cdc_spark.registry import bench_queries
from perfbench import trace as tr

EVENTS = 10_000
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000

# The bench keys whose plans read no table but ``events``.
QUERY_KEYS = (
    "cdc_lastwrite_materialize",
    "cdc_offset_range_diff",
    "events_effect_msprt",
    "events_experiment_report",
    "events_experiment_winsorized",
    "events_sessionize_gap",
    "events_srm_sequential",
    "stream_experiment_snapshot",
    "stream_srm_monitor",
    "stream_tumbling_window",
)
TOTALS = ("build_s", "py4j_calls", "analysis_ms", "optimization_ms", "planning_ms", "exec_s", "jobs")
METRIC_UNITS = {
    **{f"suite.{k}": ("count" if k in ("py4j_calls", "jobs") else k.rsplit("_", 1)[1]) for k in TOTALS},
    **{f"suite.query.{k}_s": "s" for k in QUERY_KEYS},
}


def events_table(seed: int, n: int = EVENTS) -> pa.Table:
    rng = np.random.default_rng([seed, 0xE7])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_TS0_US + np.sort(rng.integers(0, _MONTH_US, n)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 66, 1), n)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(rng.integers(1, 49_003, n) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def run_suite(spark, seed: int, sf_dir: str, tracer: tr.Tracer) -> tuple[dict, list[str]]:
    """Returns the ``suite.*`` metrics and the oracle mismatches."""
    from tests.parity import compare  # the repository's own parity check

    pq.write_table(events_table(seed), os.path.join(sf_dir, "events.parquet"))
    specs = bench_queries()
    # The oracle pass doubles as bench.py's untimed warm pass.
    problems = []
    con = duckdb.connect(config={"temp_directory": os.path.join(sf_dir, "duckdb")})
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{os.path.join(sf_dir, 'events.parquet')}')")
        for name in QUERY_KEYS:
            found = compare(specs[name].fn(spark, sf_dir), con.execute(specs[name].oracle).fetchdf())
            problems += [f"{name}: {p}" for p in found]
            spark.catalog.clearCache()
    finally:
        con.close()
    m = {f"suite.{k}": 0 for k in TOTALS}
    for name in QUERY_KEYS:
        with tracer.span(f"suite.build.{name}") as build:
            df = specs[name].fn(spark, sf_dir)
        with tracer.span(f"suite.exec.{name}") as run:
            df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        phases = tr.planning_phases_ms(df)
        m["suite.build_s"] += build["end"] - build["start"]
        m["suite.py4j_calls"] += build["py4j_calls"]
        m["suite.exec_s"] += run["end"] - run["start"]
        m["suite.jobs"] += len(run["jobs"])
        for p in ("analysis", "optimization", "planning"):
            m[f"suite.{p}_ms"] += phases.get(p, 0)
        m[f"suite.query.{name}_s"] = run["end"] - build["start"]
    return m, problems
