"""Local mirror of the driver's correctness gate: run a Spark query and
its DuckDB oracle SQL on the same parquet tables, compare row count,
column names, column TYPES (the driver's hash is dtype-sensitive — a
DuckDB HUGEINT materializing as float64 against a Spark bigint fails the
driver even when stringified values agree), and order-insensitive values
(column-name-sorted, like the driver's hash compare)."""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa

from golang_mapreduce_spark.sources.fixtures import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the fixture tables; a table that is a
    Spark-written directory (scalegen outputs) reads its parquet parts."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _arrow_kind(t: pa.DataType) -> str:
    """Collapse an Arrow type to the kind the driver's hash distinguishes.
    DuckDB HUGEINT (e.g. SUM over BIGINT) arrives as decimal128(38,0) —
    deliberately NOT folded into 'int' so oracle-vs-Spark widening bugs
    surface here instead of in the driver gate."""
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal(s={t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return f"list<{_arrow_kind(t.value_type)}>"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    return str(t)


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal(s={dt.scale})"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_kind(dt.elementType)}>"
    if isinstance(dt, T.BinaryType):
        return "bin"
    return dt.simpleString()


def assert_types_match(spark_df, duck_schema, name: str = "?"):
    """Driver-strictness type gate: Spark schema kinds == DuckDB Arrow kinds."""
    duck_kinds = {f.name: _arrow_kind(f.type) for f in duck_schema}
    spark_kinds = {f.name: _spark_kind(f.dataType) for f in spark_df.schema.fields}
    mismatches = {
        c: (spark_kinds.get(c), duck_kinds.get(c))
        for c in set(spark_kinds) | set(duck_kinds)
        if spark_kinds.get(c) != duck_kinds.get(c)
    }
    assert not mismatches, (
        f"{name}: column type mismatch (spark_kind, duck_kind): {mismatches}"
    )


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    if v is None:
        return "NULL"
    return str(v)


def _norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare(spark_df, con, sql: str, name: str = "?"):
    # single oracle execution: the Arrow table supplies both the schema
    # (type gate) and the row values — heavy recursive-CTE oracles
    # (clean_corpus, neardup_clusters) run across three suites, so the
    # double execution ADVICE r2 flagged was real wall-clock
    duck_tbl = con.execute(sql).arrow()
    assert_types_match(spark_df, duck_tbl.schema, name)
    spark_rows = [tuple(r) for r in spark_df.collect()]
    spark_cols = list(spark_df.columns)
    duck_cols = duck_tbl.column_names
    duck_rows = list(zip(*(c.to_pylist() for c in duck_tbl.columns)))
    if not duck_rows and duck_tbl.num_rows:  # pragma: no cover
        raise AssertionError(f"{name}: arrow materialization lost rows")

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = _norm_rows(spark_rows, spark_cols)
    d = _norm_rows(duck_rows, duck_cols)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
