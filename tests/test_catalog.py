"""Catalog/DDL/stats tests: managed-table lifecycle round-trip,
ANALYZE-driven statistics reaching the optimizer (StatsOptimizer /
CommonJoinTaskDispatcher parity — stats flip joins to broadcast), and the
contract of ``load_table``'s parquet schema cache."""

from __future__ import annotations

import shutil
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from apache_hive_1_2_2_src_spark.operators.catalog import _drop_db
from apache_hive_1_2_2_src_spark.plans import plan_text
from apache_hive_1_2_2_src_spark.tables import TABLES, load_table
from tests.conftest import SF_DIR


def test_ddl_lifecycle_roundtrip(spark, registry):
    row = registry["ddl_lifecycle"].build(spark, SF_DIR).collect()[0]
    assert row.table_visible and row.dropped_ok
    assert row.n_rows == 25 and row.n_regions == 5


def test_analyze_table_stats_visible(spark, registry):
    row = registry["analyze_table_stats"].build(spark, SF_DIR).collect()[0]
    assert row.stats_rows_match and row.col_stats_present


def test_analyze_feeds_optimizer_rowcount(spark):
    """ANALYZE must surface an exact rowCount to Catalyst's cost model —
    without stats a parquet table only has a size-in-bytes estimate."""
    db = "hive_parity_test_stats"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, SF_DIR, "supplier").createOrReplaceTempView("sup_src")
        tbl = f"{db}.sup"
        spark.sql(f"CREATE TABLE {tbl} USING PARQUET AS SELECT * FROM sup_src")

        def row_count_stat():
            plan = spark.table(tbl)._jdf.queryExecution().optimizedPlan()
            rc = plan.stats().rowCount()
            return None if rc.isEmpty() else int(str(rc.get()))

        # rowCount only reaches the cost model through CBO, as in Hive
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            assert row_count_stat() is None  # pre-ANALYZE: size-only estimate
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
            n = spark.table(tbl).count()
            assert row_count_stat() == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", "false")

        # ...and the analyzed small table broadcasts in a fact join
        orders = load_table(spark, SF_DIR, "orders")
        j = orders.join(spark.table(tbl), orders.o_custkey == spark.table(tbl).s_suppkey)
        assert "BroadcastHashJoin" in plan_text(j)
    finally:
        _drop_db(spark, db)


# --- load_table schema cache ------------------------------------------------


def _jobs_during(spark, fn):
    """Run ``fn()``; return its result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_cache_hit_runs_no_job(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    first, jobs1 = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, jobs2 = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs1 >= 1  # the first read infers the schema
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_schema_cache_rewritten_file_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_schema_cache_directory_table_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id * 2 AS extra").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(r.extra for r in df.collect()) == [0, 2, 4]


def test_schema_cache_follows_binary_as_string(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, None)
    try:
        seen = []
        for flag in ("false", "true", "false"):
            spark.conf.set(key, flag)
            seen.append(dict(load_table(spark, str(tmp_path), "t").dtypes)["b"])
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert seen == ["binary", "string", "binary"]


def test_schema_cache_hit_keeps_events_ts_timestamp(spark):
    load_table(spark, SF_DIR, "events")
    df, jobs = _jobs_during(spark, lambda: load_table(spark, SF_DIR, "events"))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_schema_cache_concurrent_loads(spark, tmp_path):
    """Threads racing on first reads and hits all get the inferred schema."""
    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    want = {t: load_table(spark, SF_DIR, t).schema for t in TABLES}
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [
                (t, pool.submit(load_table, spark, str(tmp_path), t))
                for _ in range(2)
                for t in TABLES
                for _ in range(4)
            ]
            got = [(t, f.result(timeout=120).schema) for t, f in futs]
    finally:
        sys.setswitchinterval(switch)
    assert all(schema == want[t] for t, schema in got)
