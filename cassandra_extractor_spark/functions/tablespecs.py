"""Table-specs compiler: the reference's dynamic per-row schema transforms.

The reference declares column transforms in an external JSON document
("table specs") and applies them row-by-row in each sink worker
(``worker.py:110-162``):

    {"columns": [{"name": ..., "renameTo": ..., "convertTo": ...,
                  "timestamp_format": ..., "remove": true}]}

Supported ``convertTo`` ops (reference semantics, SURVEY §1.3/§2.4):

- ``object``  — JSON string → nested object        (worker.py:136-137)
- ``list``    — list of JSON strings → objects     (worker.py:138-142)
- ``map``     — map of JSON-string values → objects(worker.py:143-145)
- ``timestamp`` — string → **epoch millis** (int); strptime format with
  default ``%Y-%m-%d %H:%M:%S.%f%z`` and ``Z``→``+0000`` normalization
  (worker.py:146-148, app.py:307).  A column that is already a
  timestamp converts to its epoch millis directly (format ignored)
- ``template:<expr>`` — expression over the row    (worker.py:149-150)
- ``remove: true`` — drop column                   (worker.py:153-155)
- ``renameTo``     — rename column                 (worker.py:110-121; we
  implement the *intended* rename semantics, not the raw-text substring
  replace bug)

Spark-first compilation: the whole spec becomes a single ``select`` of
Column expressions, so Catalyst sees one projection (column pruning +
whole-stage codegen apply; nothing is per-row Python) and compiling it
runs no Spark job, so it applies to a streaming frame too.  JSON
parsing uses ``from_json`` under an explicit ``schema``, else
``try_parse_json`` to VARIANT (every key and number kept, malformed
text → null; sinks render it back as JSON); timestamps use
``to_timestamp``/``unix_millis``; templates go through ``expr()`` when
the expression is valid Spark SQL, with a sandboxed-Python pandas-UDF
fallback (flagged slow in logs) for the reference's ``template:<pyexpr>``
cases SQL can't express (SURVEY §7.3.1).
"""

from __future__ import annotations

import json
import logging
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F, types as T

logger = logging.getLogger(__name__)

#: builtins exposed to the sandboxed Python-template fallback — the
#: reference's eval sandbox equivalent (worker.py:149-150); no import,
#: no IO, no attribute escape hatches like getattr/vars
_SAFE_BUILTINS: dict[str, Any] = {
    n: __builtins__[n] if isinstance(__builtins__, dict) else getattr(__builtins__, n)
    for n in (
        "abs", "bool", "float", "int", "len", "max", "min", "round",
        "sorted", "str", "sum", "tuple", "list", "dict", "set", "zip",
        "enumerate", "range", "any", "all", "repr", "format",
    )
}

#: reference default strptime format (app.py:307)
DEFAULT_TIMESTAMP_FORMAT = "%Y-%m-%d %H:%M:%S.%f%z"

# strptime → Spark SimpleDateFormat-ish pattern translation for the
# directives the reference's configs use.
_STRPTIME_TO_SPARK = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%z": "xx",
    "%%": "%",
}


def strptime_to_spark(fmt: str) -> str:
    """Translate a Python strptime format to a Spark datetime pattern."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d not in _STRPTIME_TO_SPARK:
                raise ValueError(f"unsupported strptime directive {d!r} in {fmt!r}")
            out.append(_STRPTIME_TO_SPARK[d])
            i += 2
        elif fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


@dataclass
class ColumnSpec:
    name: str
    rename_to: str | None = None
    convert_to: str | None = None
    timestamp_format: str | None = None
    #: target schema for object/list/map; None parses to VARIANT
    schema: str | T.DataType | None = None
    remove: bool = False

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "ColumnSpec":
        return cls(
            name=d["name"],
            rename_to=d.get("renameTo"),
            convert_to=d.get("convertTo"),
            timestamp_format=d.get("timestamp_format"),
            schema=d.get("schema"),
            remove=bool(d.get("remove", False)),
        )


@dataclass
class TableSpec:
    columns: list[ColumnSpec] = field(default_factory=list)
    #: opt-in for the sandboxed-Python ``template:`` fallback.  Table
    #: specs are TRUSTED OPERATOR INPUT (the reference ``eval()``s them
    #: outright, worker.py:149-150); the AST filter here blocks dunder
    #: access and unknown names but is NOT a hard security boundary
    #: (unbounded computation is trivially expressible), so the Python
    #: tier stays off unless the spec explicitly asks for it.
    allow_python_templates: bool = False

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "TableSpec":
        return cls(
            columns=[ColumnSpec.from_dict(c) for c in d.get("columns", [])],
            allow_python_templates=bool(d.get("allowPythonTemplates", False)),
        )

    @classmethod
    def from_json(cls, text: str) -> "TableSpec":
        return cls.from_dict(json.loads(text))


def _normalize_z(col: Column) -> Column:
    """Reference normalizes a trailing ``Z`` to ``+0000`` before strptime
    (worker.py:147)."""
    return F.regexp_replace(col, "Z$", "+0000")


def _timestamp_to_epoch_millis(col: Column, fmt: str | None) -> Column:
    """String → epoch millis (LongType), the reference's ``convertTo:
    "timestamp"`` semantics (worker.py:146-148)."""
    fmt = fmt or DEFAULT_TIMESTAMP_FORMAT
    spark_fmt = strptime_to_spark(fmt)
    return F.unix_millis(F.to_timestamp(_normalize_z(col), spark_fmt))


def _parse_json_fn(schema):
    """JSON text → ``from_json`` under an explicit ``schema``, else
    VARIANT: ``try_parse_json`` keeps every key and number as written
    and gives null for a malformed string, like the reference's
    per-row ``json.loads`` (worker.py:136-145).  Single-param closure
    (extra lambda params would bind the array index in ``transform``)."""
    if schema:
        return lambda x: F.from_json(x, schema)
    return lambda x: F.try_parse_json(x)


def _template_col(
    df: DataFrame, expr_src: str, allow_python: bool = False
) -> Column:
    """``template:`` compilation with a two-tier strategy (SURVEY §7.3.1).

    Fast path: the expression compiles AND analyzes as Spark SQL →
    ``F.expr`` (JVM-side, whole-stage codegen).  Fallback (only when
    ``allow_python``, i.e. the spec set ``allowPythonTemplates``):
    sandboxed Python ``eval`` over the row via an Arrow-batched pandas
    UDF — the reference's ``convertTo:"template:<pyexpr>"`` semantics
    (worker.py:149-150) for expressions SQL can't say.  The fallback is
    row-at-a-time Python inside the batch and is logged as the SLOW
    path; only the columns the expression references are shipped.

    Trust model: specs are operator-supplied config, not end-user input
    (the reference ``eval()``s them with no filter at all); the AST
    filter is defense-in-depth, not a security boundary.  Note also
    that the SQL tier wins for any expression valid in BOTH dialects —
    e.g. ``a or b`` is SQL boolean OR here, never Python's
    first-truthy-operand; write unambiguous expressions.
    """
    try:
        col = F.expr(expr_src)
        df.select(col)  # force analysis so unresolved names/functions fail here
        return col
    except Exception as sql_err:  # noqa: BLE001 - parse/analysis failure → Python path
        if not allow_python:
            raise ValueError(
                f"template {expr_src!r} is not valid Spark SQL and the "
                "sandboxed-Python fallback is disabled — set "
                '"allowPythonTemplates": true in the table spec to opt in'
            ) from sql_err
    import ast

    tree = ast.parse(expr_src, mode="eval")
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):  # no dunder escape hatches (__class__ etc.)
        if isinstance(node, ast.Attribute) and node.attr.startswith("__"):
            raise ValueError(f"template {expr_src!r}: dunder attribute access is blocked")
    refs = [c for c in df.columns if c in names]
    unknown = names - set(refs) - set(_SAFE_BUILTINS)
    if unknown:
        raise ValueError(
            f"template {expr_src!r} is neither valid Spark SQL nor sandboxed "
            f"Python over the row (unknown names: {sorted(unknown)})"
        )
    code = compile(tree, "<template>", "eval")
    if not refs:  # constant Python expression — evaluate once, plan-time
        return F.lit(str(eval(code, {"__builtins__": _SAFE_BUILTINS}, {})))  # noqa: S307
    logger.warning(
        "template %r is not SQL-expressible; using the sandboxed-Python "
        "pandas-UDF fallback (SLOW path — row-at-a-time eval)",
        expr_src,
    )

    @F.pandas_udf("string")
    def run_template(*series):
        import pandas as pd

        out = []
        for vals in zip(*series):
            row = dict(zip(refs, vals))
            out.append(str(eval(code, {"__builtins__": _SAFE_BUILTINS}, row)))  # noqa: S307
        return pd.Series(out)

    return run_template(*[F.col(c) for c in refs])


def compile_table_spec(
    df: DataFrame, spec: TableSpec
) -> tuple[list[Column], list[str]]:
    """Compile a TableSpec into (select-expressions, output-names).

    One pass, one projection: rename/convert/remove fold into a single
    ``select`` so the optimizer sees a plain projection node.
    """
    by_name = {c.name: c for c in spec.columns}
    exprs: list[Column] = []
    names: list[str] = []
    for fname in df.columns:
        cs = by_name.get(fname)
        if cs is None:
            exprs.append(F.col(fname))
            names.append(fname)
            continue
        if cs.remove:
            continue
        out_name = cs.rename_to or cs.name
        col = F.col(fname)
        conv = cs.convert_to
        if conv is None:
            pass
        elif conv == "object":
            col = _parse_json_fn(cs.schema)(col)
        elif conv == "list":
            col = F.transform(col, _parse_json_fn(cs.schema))
        elif conv == "map":
            parse = _parse_json_fn(cs.schema)
            col = F.transform_values(col, lambda _k, v: parse(v))
        elif conv == "timestamp":
            if isinstance(df.schema[fname].dataType, (T.TimestampType, T.TimestampNTZType)):
                # already a timestamp: the millis directly, not a
                # format → strptime round trip (which fails on a
                # whole-second value under ``.%f`` and on every row
                # under the default ``%z``)
                col = F.unix_millis(col.cast("timestamp"))
            else:
                col = _timestamp_to_epoch_millis(col, cs.timestamp_format)
        elif conv.startswith("template:"):
            col = _template_col(
                df, conv[len("template:") :], spec.allow_python_templates
            )
        else:
            raise ValueError(f"unknown convertTo: {conv!r}")
        exprs.append(col.alias(out_name))
        names.append(out_name)
    return exprs, names


def apply_table_spec(df: DataFrame, spec: TableSpec | dict | str) -> DataFrame:
    """Apply a table spec to a DataFrame as a single projection."""
    if isinstance(spec, str):
        spec = TableSpec.from_json(spec)
    elif isinstance(spec, dict):
        spec = TableSpec.from_dict(spec)
    exprs, _ = compile_table_spec(df, spec)
    return df.select(*exprs)


def default_id(df: DataFrame, id_col: str = "id") -> DataFrame:
    """T9: inject ``id = uuid()`` when missing (reference S3 sink,
    s3worker.py:72-73)."""
    if id_col in df.columns:
        return df.withColumn(id_col, F.coalesce(F.col(id_col), F.expr("uuid()")))
    return df.withColumn(id_col, F.expr("uuid()"))


#: column types a flat format (CSV, a JDBC table) has no column type for
_NESTED_TYPES = (T.StructType, T.ArrayType, T.MapType, T.VariantType)


def nested_to_json(df: DataFrame) -> DataFrame:
    """Render every struct/array/map/VARIANT column as JSON text, for the
    sinks whose format holds only flat columns (CSV, JDBC); the others
    pass through unchanged."""
    return df.select(*[
        F.to_json(F.col(f.name)).alias(f.name) if isinstance(f.dataType, _NESTED_TYPES)
        else F.col(f.name)
        for f in df.schema.fields
    ])


_TEMPLATE_TOKEN = re.compile(r"%\((\w+)\)([sd])")


def render_template(df: DataFrame, template: str, out: str = "rendered") -> DataFrame:
    """T8: Python ``%(name)s``-style template over row fields, compiled to
    ``format_string`` (reference templated Kafka/S3/RDS/JSON payloads,
    e.g. kafkaworker.py:62-63, s3worker.py:19-23).

    ``[DQ]`` unescapes to ``"`` as in app.py:497.  Literal ``%``
    characters outside ``%(name)s`` tokens are escaped to ``%%``
    (tokenize first, then escape the remainder) so templates like
    ``"score 100%"`` don't hit the Java Formatter as stray directives.
    """
    template = template.replace("[DQ]", '"')
    cols: list[Column] = []
    parts: list[str] = []
    pos = 0
    for m in _TEMPLATE_TOKEN.finditer(template):
        parts.append(template[pos : m.start()].replace("%", "%%"))
        cols.append(F.col(m.group(1)))
        parts.append("%s" if m.group(2) == "s" else "%d")
        pos = m.end()
    parts.append(template[pos:].replace("%", "%%"))
    return df.withColumn(out, F.format_string("".join(parts), *cols))
