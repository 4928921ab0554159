"""Driver-built frames and the plans of routed statements.

Pins:

1. ``engine._local_frame`` round-trips every value shape the engine ships
   through it: no rows, nulls in nullable fields, int64 extremes,
   booleans, ``array<int>`` (the direct-encode plan rows) and strings;
2. the read-side entry points plan their bucket frames as a
   ``LocalTableScan`` (no pickled-RDD scan through Python workers) and run
   their kernels in the first stage, with no ``Exchange`` below
   ``MapInArrow``; a decode over more buckets than cores still returns
   the source's rows exactly;
3. ``sqlagg.store_agg_sql`` types its relations from the stored schema,
   yet keeps the named errors (unknown ``columns``, foreign format
   version) and hands a fallback statement exactly the plan
   ``datasource.store_sql`` builds.
"""

from __future__ import annotations

import datetime as dt
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flowforge import datagen, datasource, engine, sqlagg
from flowforge.catalog import Manifest

ROWS = 4096
_EPOCH = dt.datetime(1970, 1, 1)
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    return datagen.write_webpages(str(tmp_path_factory.mktemp("df_src")),
                                  ROWS, seed=11, row_group_size=512)


@pytest.fixture(scope="module")
def store(spark, src, tmp_path_factory):
    # 8 buckets of 512 rows: more buckets than the session's 4 cores
    out = str(tmp_path_factory.mktemp("df_store") / "store")
    engine.run_encode_path(spark, src, out, target_rows=512, chunk_rows=256)
    return out


@pytest.fixture(scope="module")
def window(src):
    """A warc_ts window over the middle third (epoch micros): on the
    near-sorted column it proves some buckets and cuts through others."""
    ts = pq.read_table(src, columns=["warc_ts"]).column("warc_ts")
    mm = pc.min_max(ts.cast(pa.int64()))
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    return lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3


def _plan(df) -> str:
    return str(df._jdf.queryExecution().executedPlan().toString())


def _below_kernel(plan: str) -> str:
    """The plan text printed after the MapInArrow node: its subtree."""
    assert "MapInArrow" in plan, plan
    return plan[plan.index("MapInArrow"):]


def _window_rows(src, window) -> pa.Table:
    t = pq.read_table(src)
    ts = t.column("warc_ts").cast(pa.int64())
    mask = pc.and_(pc.greater_equal(ts, window[0]),
                   pc.less_equal(ts, window[1]))
    return t.filter(mask)


# --- 1. the driver-frame helper ---------------------------------------------


def test_local_frame_round_trips_value_shapes(spark):
    schema = T.StructType([
        T.StructField("i", T.LongType(), True),
        T.StructField("flag", T.BooleanType(), False),
        T.StructField("groups", T.ArrayType(T.IntegerType()), False),
        T.StructField("s", T.StringType(), True),
    ])
    rows = [
        (-(1 << 63), True, [0, 3], "x"),
        ((1 << 63) - 1, False, [], None),
        (None, True, [(1 << 31) - 1], "ü-é"),
    ]
    df = engine._local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    empty = engine._local_frame(spark, [], schema)
    assert empty.schema == schema
    assert empty.collect() == []
    assert "LocalTableScan" in _plan(df)


# --- 2. plan shapes of the read-side entry points ---------------------------


def test_agg_table_proven_store_is_a_local_scan(spark, store, src):
    df = engine.agg_table(spark, store,
                          {"n": ("count",), "n_html": ("nncount", "html")})
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    html = pq.read_table(src, columns=["html"]).column("html")
    row = df.collect()[0]
    assert (row["n"], row["n_html"]) == (ROWS, ROWS - html.null_count)


def test_count_window_runs_kernel_without_shuffle(spark, store, src, window):
    df = engine.count_table(spark, store, {"warc_ts": window})
    below = _below_kernel(_plan(df))
    assert "Exchange" not in below
    assert "LocalTableScan" in below
    assert df.collect()[0]["cnt"] == _window_rows(src, window).num_rows


def test_group_multi_window_runs_kernel_without_shuffle(spark, store, src,
                                                        window):
    df = engine.group_multi_table(spark, store, ["lang"],
                                  predicates={"warc_ts": window})
    assert "Exchange" not in _below_kernel(_plan(df))
    want = _window_rows(src, window).group_by("lang").aggregate(
        [([], "count_all")])
    assert sorted((r["lang"], r["cnt"]) for r in df.collect()) == sorted(
        zip(want.column("lang").to_pylist(),
            want.column("count_all").to_pylist()))


def test_decode_more_buckets_than_cores_matches_source(spark, store, src):
    _, nonempty = engine._plan_store(store)
    n_buckets = len(nonempty)
    assert n_buckets > spark.sparkContext.defaultParallelism
    df = engine.decode_table(spark, store)
    assert "Exchange" not in _below_kernel(_plan(df))

    def fingerprint(d):
        row = d.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*COLUMNS).cast("decimal(38,0)"))
                    .alias("h")).collect()[0]
        return int(row["n"]), int(row["h"])

    assert fingerprint(df) == fingerprint(spark.read.parquet(src))


# --- 3. relations typed from the stored schema -------------------------------


def test_store_agg_sql_unknown_columns_is_named(spark, store):
    with pytest.raises(ValueError,
                       match=r"unknown columns \['nope'\]; store has"):
        sqlagg.store_agg_sql(spark, "SELECT count(*) AS n FROM p",
                             {"p": store}, columns={"p": ["lang", "nope"]})


def test_store_agg_sql_foreign_format_fails_before_routing(
        spark, store, tmp_path, monkeypatch):
    old = str(tmp_path / "old")
    shutil.copytree(store, old)
    m = Manifest(old)
    m.write_table_meta({**m.read_table_meta(), "format": 6})

    def no_route(*_a, **_k):
        raise AssertionError("routing ran on a foreign-format store")

    monkeypatch.setattr(sqlagg, "_route", no_route)
    with pytest.raises(ValueError, match="has format v6"):
        sqlagg.store_agg_sql(spark, "SELECT count(*) AS n FROM p",
                             {"p": old})


def test_routed_statement_builds_no_reader(spark, store, src, window):
    lo, hi = (_EPOCH + dt.timedelta(microseconds=t) for t in window)
    sql = (f"SELECT lang, count(*) AS n FROM p WHERE warc_ts >= "
           f"TIMESTAMP '{lo.isoformat(sep=' ')}' AND warc_ts <= "
           f"TIMESTAMP '{hi.isoformat(sep=' ')}' GROUP BY lang")
    assert sqlagg.route_agg_sql(spark, sql, {"p": store}) is not None
    df = sqlagg.store_agg_sql(spark, sql, {"p": store})
    assert "BatchScan" not in _plan(df)
    got = {r["lang"]: r["n"] for r in df.collect()}
    want = _window_rows(src, window).group_by("lang").aggregate(
        [([], "count_all")])
    assert got == dict(zip(want.column("lang").to_pylist(),
                           want.column("count_all").to_pylist()))


def test_fallback_plan_equals_store_sql(spark, store, src):
    sql = ("SELECT url, lang FROM p "
           "WHERE lang = 'en' AND url LIKE 'https://host1%'")
    assert sqlagg.route_agg_sql(spark, sql, {"p": store}) is None

    def shape(df):
        return re.sub(r"#\d+", "#", _plan(df))

    got = sqlagg.store_agg_sql(spark, sql, {"p": store})
    assert shape(got) == shape(datasource.store_sql(spark, sql, {"p": store}))
    t = pq.read_table(src, columns=["url", "lang"])
    t = t.filter(pc.and_(pc.equal(t.column("lang"), "en"),
                         pc.starts_with(t.column("url"), "https://host1")))
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        zip(t.column("url").to_pylist(), t.column("lang").to_pylist()))
