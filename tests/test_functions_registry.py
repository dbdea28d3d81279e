"""Databend function-alias registry tests."""

import pytest
from pyspark.sql import functions as F


def test_renames_resolve(spark):
    from databend_spark.functions.registry import databend_fn

    df = spark.createDataFrame([("Hello", 3)], "s string, n int")
    row = df.select(
        databend_fn("ucase")("s").alias("u"),
        databend_fn("lcase")("s").alias("l"),
        databend_fn("char_length")("s").alias("n"),
        databend_fn("to_int64")(F.col("n")).alias("i"),
        databend_fn("ifnull")(F.lit(None), F.lit(7)).alias("c"),
        databend_fn("div0")(F.lit(1.0), F.lit(0.0)).alias("d0"),
        databend_fn("to_yyyymmdd")(F.lit("2024-03-05").cast("date")).alias("ymd"),
    ).collect()[0]
    assert (row.u, row.l, row.n, row.i, row.c, row.d0, row.ymd) == (
        "HELLO", "hello", 5, 3, 7, 0.0, 20240305,
    )


def test_unknown_function_raises():
    from databend_spark.functions.registry import databend_fn

    with pytest.raises(KeyError):
        databend_fn("definitely_not_a_function")


def test_sql_text_rewrite(ctx):
    out = ctx.sql("SELECT ucase('ab') AS u, char_length('abc') AS n").collect()[0]
    assert (out.u, out.n) == ("AB", 3)


def test_tuple_positional_access(ctx):
    out = ctx.sql(
        "SELECT t.`1` AS f FROM (SELECT named_struct('1', 42) AS t)"
    ).collect()[0]
    assert out.f == 42


def test_unsupported_syntax_errors(ctx):
    from databend_spark.sqlgen import UnsupportedSQL

    with pytest.raises(UnsupportedSQL):
        ctx.sql("SELECT * FROM t CHANGES(INFORMATION => DEFAULT)")


@pytest.fixture(scope="module")
def json_text(ctx):
    # VARIANT values stored as JSON text: `v` is textually an array or a
    # map, so only the executor's type-error retries can read it
    ctx.spark.createDataFrame(
        [("[3,1,3]",)], "v string"
    ).createOrReplaceTempView("__json_text")
    yield "__json_text"
    ctx.spark.catalog.dropTempView("__json_text")


def test_get_over_json_text(ctx, json_text):
    out = ctx.sql(f"SELECT get(v, 0) AS g FROM {json_text}").collect()
    assert [r.g for r in out] == ["3"]


def test_array_distinct_over_json_text(ctx, json_text):
    out = ctx.sql(f"SELECT array_distinct(v) AS d FROM {json_text}").collect()
    assert [r.d for r in out] == ["[3,1]"]


def test_fresh_session_context_runs_dialect_udfs(spark):
    from databend_spark.session import SessionContext

    # a new session shares the application but none of its UDFs
    fresh = SessionContext(spark.newSession())
    out = fresh.sql(
        "SELECT json_array_length(parse_json('[1,2]')) AS n,"
        " get_path(parse_json('{\"a\": 7}'), 'a') AS a"
    ).collect()
    assert [(r.n, r.a) for r in out] == [(2, "7")]
