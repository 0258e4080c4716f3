"""Transform-compiler unit tests (SURVEY §5.2.3): the FIXTURES.md spec
against events, reference edge semantics locked in."""

from __future__ import annotations

import datetime

from pyspark.sql import Row, functions as F, types as T

from cassandra_extractor_spark.functions.tablespecs import (
    TableSpec,
    apply_table_spec,
    default_id,
    render_template,
    strptime_to_spark,
    to_json_rows,
)

FIXTURE_SPEC = {
    "columns": [
        {"name": "event_id", "renameTo": "id"},
        {"name": "props", "convertTo": "object", "schema": "k bigint"},
        {
            "name": "ts",
            "convertTo": "timestamp",
            "timestamp_format": "%Y-%m-%d %H:%M:%S.%f%z",
        },
        {"name": "user_id", "remove": True},
    ]
}


def _events_strings(spark):
    return spark.createDataFrame(
        [
            Row(
                event_id=1,
                ts="2024-01-02 03:04:05.678901+0000",
                user_id=7,
                event_type="click",
                value=1.5,
                props='{"k": 87}',
            ),
            Row(
                event_id=2,
                ts="2024-01-02 03:04:05.678901Z",  # Z normalization path
                user_id=8,
                event_type="view",
                value=2.5,
                props='{"k": 9}',
            ),
        ]
    )


def test_fixture_spec_schema_and_values(spark):
    out = apply_table_spec(_events_strings(spark), FIXTURE_SPEC)
    # expected output schema per FIXTURES.md
    assert out.columns == ["id", "ts", "event_type", "value", "props"]
    fields = dict(out.dtypes)
    assert fields["ts"] == "bigint"  # epoch millis (worker.py:146-148)
    assert fields["props"] == "struct<k:bigint>"
    rows = {r["id"]: r for r in out.collect()}
    expected_ms = int(
        datetime.datetime(
            2024, 1, 2, 3, 4, 5, 678901, tzinfo=datetime.timezone.utc
        ).timestamp()
        * 1000
    )
    assert rows[1]["ts"] == expected_ms
    # Z -> +0000 normalization (worker.py:147) gives the same instant
    assert rows[2]["ts"] == expected_ms
    assert rows[1]["props"]["k"] == 87
    assert "user_id" not in out.columns


def test_strptime_translation():
    assert strptime_to_spark("%Y-%m-%d %H:%M:%S.%f%z") == "yyyy-MM-dd HH:mm:ss.SSSSSSxx"
    assert strptime_to_spark("%Y/%m/%d") == "yyyy/MM/dd"


def test_template_convert(spark):
    spec = {"columns": [{"name": "value", "convertTo": "template:value * 2"}]}
    out = apply_table_spec(_events_strings(spark), spec)
    assert out.select("value").orderBy("event_id").first()["value"] == 3.0


def test_default_id_injection(spark):
    df = spark.createDataFrame([Row(a=1)])
    out = default_id(df)
    assert out.first()["id"] is not None
    df2 = spark.createDataFrame([Row(id=None, a=1), Row(id="x", a=2)])
    vals = {r["a"]: r["id"] for r in default_id(df2).collect()}
    assert vals[2] == "x" and vals[1] is not None


def test_render_template(spark):
    df = spark.createDataFrame([Row(name="n1", n=5)])
    out = render_template(df, 'key=%(name)s num=%(n)d quote=[DQ]', out="r")
    assert out.first()["r"] == 'key=n1 num=5 quote="'


def test_to_json_rows(spark):
    df = spark.createDataFrame([Row(a=1, b="x")])
    assert to_json_rows(df).first()["value"] == '{"a":1,"b":"x"}'


def test_list_and_map_convert(spark):
    df = spark.createDataFrame(
        [Row(lst=['{"k": 1}', '{"k": 2}'], mp={"a": '{"k": 3}'})]
    )
    spec = {
        "columns": [
            {"name": "lst", "convertTo": "list", "schema": "k bigint"},
            {"name": "mp", "convertTo": "map", "schema": "k bigint"},
        ]
    }
    out = apply_table_spec(df, spec).first()
    assert [x["k"] for x in out["lst"]] == [1, 2]
    assert out["mp"]["a"]["k"] == 3


def test_render_template_literal_percent(spark):
    """Stray % outside %(name)s tokens must not hit the Java Formatter
    as directives."""
    from cassandra_extractor_spark.functions.tablespecs import render_template

    df = spark.createDataFrame([(42,)], "score int")
    row = render_template(df, "scored %(score)d out of 100%", out="r").first()
    assert row["r"] == "scored 42 out of 100%"
    row2 = render_template(df, "100% of %(score)s%", out="r").first()
    assert row2["r"] == "100% of 42%"


def test_template_python_fallback(spark):
    """Non-SQL templates run through the sandboxed-Python pandas UDF;
    SQL-expressible ones stay on the expr() fast path."""
    from cassandra_extractor_spark.functions.tablespecs import apply_table_spec

    df = spark.createDataFrame(
        [("alice smith", 2), ("bob", 3)], "name string, k int"
    )
    # Python-only: method calls + conditional expression
    out = apply_table_spec(
        df,
        {"columns": [{"name": "name",
                      "convertTo": "template:name.split(' ')[0].upper() if name else ''"}],
         "allowPythonTemplates": True},
    )
    assert [r["name"] for r in out.orderBy("k").collect()] == ["ALICE", "BOB"]
    # SQL-expressible: must NOT use a Python UDF
    sql_out = apply_table_spec(
        df, {"columns": [{"name": "k", "convertTo": "template:k * 10"}]}
    )
    plan = sql_out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    assert sorted(r["k"] for r in sql_out.collect()) == [20, 30]
    # constant Python expression folds at plan time
    const = apply_table_spec(
        df,
        {"columns": [{"name": "name", "convertTo": "template:str(len([1,2,3]))"}],
         "allowPythonTemplates": True},
    )
    assert {r["name"] for r in const.collect()} == {"3"}


def test_template_sandbox_rejects_unknown_names(spark):
    from cassandra_extractor_spark.functions.tablespecs import apply_table_spec
    import pytest

    df = spark.createDataFrame([("x",)], "name string")
    with pytest.raises(ValueError, match="unknown names"):
        apply_table_spec(
            df,
            {"columns": [{"name": "name", "convertTo": "template:__import__('os').getcwd()"}],
             "allowPythonTemplates": True},
        )


def test_template_python_fallback_requires_opt_in(spark):
    """Without allowPythonTemplates the sandboxed-Python tier is OFF:
    a non-SQL template errors with the opt-in hint instead of silently
    executing config-supplied Python (specs are trusted operator input,
    but the Python tier is explicit)."""
    from cassandra_extractor_spark.functions.tablespecs import apply_table_spec
    import pytest

    df = spark.createDataFrame([("alice smith",)], "name string")
    with pytest.raises(ValueError, match="allowPythonTemplates"):
        apply_table_spec(
            df,
            {"columns": [{"name": "name",
                          "convertTo": "template:name.split(' ')[0].upper()"}]},
        )


def test_timestamp_column_converts_to_millis_under_any_format(spark):
    """A TIMESTAMP input converts to its epoch millis directly: a
    whole-second value under ``.%f`` and every value under the default
    ``%z`` format failed the old format → strptime round trip."""
    utc = datetime.timezone.utc
    whole = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=utc)
    frac = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=utc)
    df = spark.createDataFrame([Row(id=1, ts=whole), Row(id=2, ts=frac)])
    want = {1: int(whole.timestamp() * 1000), 2: int(frac.timestamp() * 1000)}
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", None):
        col = {"name": "ts", "convertTo": "timestamp"}
        if fmt:
            col["timestamp_format"] = fmt
        out = apply_table_spec(df, {"columns": [col]})
        assert dict(out.dtypes)["ts"] == "bigint"
        assert {r.id: r.ts for r in out.collect()} == want, fmt


def _inferred(spark, rows, ddl, spec_col):
    df = spark.createDataFrame(rows, ddl)
    return apply_table_spec(df, {"columns": [spec_col]})


def test_object_convert_infers_schema_from_sample(spark):
    """No ``schema``: the struct is inferred from the column's values.
    An int in one row and a float in another widen to double, keys are
    unioned across rows, nested objects stay structs."""
    out = _inferred(
        spark,
        [(1, '{"a": 1, "o": {"x": 1}}'), (2, '{"a": 2.5, "b": "s"}'), (3, None)],
        "id int, j string",
        {"name": "j", "convertTo": "object"},
    )
    want = T.StructType([
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.StringType()),
        T.StructField("o", T.StructType([T.StructField("x", T.LongType())])),
    ])
    assert out.schema["j"].dataType == want
    got = {r.id: r.j for r in out.collect()}
    assert got[1].a == 1.0 and got[1].o.x == 1 and got[1].b is None
    assert got[2].a == 2.5 and got[2].b == "s" and got[2].o is None
    assert got[3] is None


def test_list_convert_infers_schema_from_elements(spark):
    out = _inferred(
        spark,
        [(1, ['{"a": 1}', None, '{"n": {"y": "q"}}']), (2, ['{"a": 0.5}'])],
        "id int, j array<string>",
        {"name": "j", "convertTo": "list"},
    )
    elem = out.schema["j"].dataType.elementType
    assert elem == T.StructType([
        T.StructField("a", T.DoubleType()),
        T.StructField("n", T.StructType([T.StructField("y", T.StringType())])),
    ])
    got = {r.id: r.j for r in out.collect()}
    assert got[1][0].a == 1.0 and got[1][2].n.y == "q"
    assert got[2][0].a == 0.5


def test_map_convert_infers_schema_from_values(spark):
    out = _inferred(
        spark,
        [(1, {"k1": '{"a": 3}', "k2": '{"b": [1, 2]}'}), (2, {"k3": '{"a": 1.25}'})],
        "id int, j map<string,string>",
        {"name": "j", "convertTo": "map"},
    )
    val = out.schema["j"].dataType.valueType
    assert val == T.StructType([
        T.StructField("a", T.DoubleType()),
        T.StructField("b", T.ArrayType(T.LongType())),
    ])
    got = {r.id: r.j for r in out.collect()}
    assert got[1]["k1"].a == 3.0 and got[1]["k2"].b == [1, 2]
    assert got[2]["k3"].a == 1.25


def test_all_null_column_infers_empty_struct(spark):
    empty = T.StructType()
    for ddl, kind, want in (
        ("j string", "object", empty),
        ("j array<string>", "list", T.ArrayType(empty)),
        ("j map<string,string>", "map", T.MapType(T.StringType(), empty)),
    ):
        out = _inferred(spark, [(None,), (None,)], ddl, {"name": "j", "convertTo": kind})
        assert out.schema["j"].dataType == want, kind
        assert [r.j for r in out.collect()] == [None, None]
