"""Transform-compiler unit tests (SURVEY §5.2.3): the FIXTURES.md spec
against events, reference edge semantics locked in."""

from __future__ import annotations

import datetime
import json
import uuid

from pyspark.sql import Row, functions as F, types as T

from cassandra_extractor_spark.functions.tablespecs import (
    TableSpec,
    apply_table_spec,
    default_id,
    nested_to_json,
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


def _converted(spark, rows, ddl, spec_col):
    df = spark.createDataFrame(rows, ddl)
    return apply_table_spec(df, {"columns": [spec_col]})


def _rendered(out, tmp_path):
    """``j`` of each row as JSON, rendered twice: by ``to_json`` (the
    Kafka/S3 path) and by ``write.json`` (the JSONL path)."""
    by_to_json = {
        r.id: None if r.j is None else json.loads(r.j)
        for r in out.select("id", F.to_json("j").alias("j")).collect()
    }
    out.write.mode("overwrite").json(str(tmp_path / "jsonl"))
    by_write_json = {}
    for f in (tmp_path / "jsonl").glob("*.json"):
        for line in f.read_text().splitlines():
            row = json.loads(line)
            by_write_json[row["id"]] = row.get("j")
    return by_to_json, by_write_json


def test_object_convert_parses_to_variant(spark):
    """No ``schema``: the object parses to VARIANT, keeping every key
    and every number as written (the reference's ``json.loads`` then
    ``json.dumps``); malformed text and null give null."""
    out = _converted(
        spark,
        [(1, '{"a": 1, "o": {"x": 1}}'), (2, '{"a": 2.5, "b": "s"}'), (3, None),
         (4, '{"x":1}'), (5, '{"x":2.5}'), (6, "{not json"), (7, "{}")],
        "id int, j string",
        {"name": "j", "convertTo": "object"},
    )
    assert out.schema["j"].dataType == T.VariantType()
    got = {r.id: r.j for r in out.select("id", F.to_json("j").alias("j")).collect()}
    assert json.loads(got[1]) == {"a": 1, "o": {"x": 1}}
    assert json.loads(got[2]) == {"a": 2.5, "b": "s"}
    assert got[4] == '{"x":1}' and got[5] == '{"x":2.5}'
    assert got[3] is None and got[6] is None
    assert got[7] == "{}"


def test_object_convert_keeps_a_key_first_seen_after_row_1000(spark):
    rows = [(i, '{"a": %d}' % i) for i in range(1500)]
    rows[1200] = (1200, '{"a": 1200, "late": "x"}')
    out = _converted(spark, rows, "id int, j string", {"name": "j", "convertTo": "object"})
    got = {
        r.id: json.loads(r.j)
        for r in out.select("id", F.to_json("j").alias("j")).where("id in (0, 1200)").collect()
    }
    assert got == {0: {"a": 0}, 1200: {"a": 1200, "late": "x"}}


def test_list_convert_parses_elements_to_variant(spark, tmp_path):
    out = _converted(
        spark,
        [(1, ['{"a": 1}', None, '{"n": {"y": "q"}}']), (2, ['{"a": 0.5}', "[oops"]), (3, [])],
        "id int, j array<string>",
        {"name": "j", "convertTo": "list"},
    )
    assert out.schema["j"].dataType == T.ArrayType(T.VariantType())
    want = {1: [{"a": 1}, None, {"n": {"y": "q"}}], 2: [{"a": 0.5}, None], 3: []}
    assert _rendered(out, tmp_path) == (want, want)


def test_map_convert_parses_values_to_variant(spark, tmp_path):
    out = _converted(
        spark,
        [(1, {"k1": '{"a": 3}', "k2": '{"b": [1, 2.5]}'}), (2, {"k3": "nope", "k4": None})],
        "id int, j map<string,string>",
        {"name": "j", "convertTo": "map"},
    )
    assert out.schema["j"].dataType == T.MapType(T.StringType(), T.VariantType())
    want = {1: {"k1": {"a": 3}, "k2": {"b": [1, 2.5]}}, 2: {"k3": None, "k4": None}}
    assert _rendered(out, tmp_path) == (want, want)


def test_all_null_column_parses_to_null_variants(spark):
    for ddl, kind, want in (
        ("j string", "object", T.VariantType()),
        ("j array<string>", "list", T.ArrayType(T.VariantType())),
        ("j map<string,string>", "map", T.MapType(T.StringType(), T.VariantType())),
    ):
        out = _converted(spark, [(None,), (None,)], ddl, {"name": "j", "convertTo": kind})
        assert out.schema["j"].dataType == want, kind
        assert [r.j for r in out.collect()] == [None, None]


def test_schema_less_build_runs_no_spark_job(spark):
    """Building an extraction with schema-less object/list/map
    conversions is plan-only: no job in the caller's job group until
    an action runs."""
    from cassandra_extractor_spark.plans.spec import ExtractionSpec

    df = spark.createDataFrame(
        [(1, '{"a": 1}', ['{"b": 2}'], {"k": '{"c": 3}'})],
        "id int, o string, l array<string>, m map<string,string>",
    )
    spec = ExtractionSpec(table="t", table_spec={"columns": [
        {"name": "o", "convertTo": "object"},
        {"name": "l", "convertTo": "list"},
        {"name": "m", "convertTo": "map"},
    ]})
    sc = spark.sparkContext
    group = f"spec-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "spec.build")
    try:
        out = spec.build(spark, source_df=df)
        at_build = list(sc.statusTracker().getJobIdsForGroup(group))
        out.count()  # an action in the same group is counted
        after_action = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert at_build == []
    assert after_action


def test_nested_to_json_flattens_every_nested_column(spark):
    """CSV and JDBC hold flat columns only: structs, arrays, maps and
    VARIANT become JSON text, flat columns pass through unchanged."""
    df = spark.sql(
        """SELECT 1 AS id, 'x' AS s, named_struct('k', 7) AS st, array(1, 2) AS arr,
                  map('a', 1.5) AS mp, parse_json('{"v": [1, 2.5]}') AS var"""
    )
    out = nested_to_json(df)
    assert out.dtypes == [("id", "int"), ("s", "string"), ("st", "string"),
                          ("arr", "string"), ("mp", "string"), ("var", "string")]
    r = out.first()
    assert (r.id, r.s) == (1, "x")
    assert [json.loads(v) for v in (r.st, r.arr, r.mp, r.var)] == [
        {"k": 7}, [1, 2], {"a": 1.5}, {"v": [1, 2.5]}]
