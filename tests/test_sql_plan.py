"""Validation plans built as SQL text: the driver-side build makes a
bounded number of JVM round trips, and SQL escaping / literal typing
(identifiers, strings, doubles, out-of-int64 integers) agrees with the
pure-Python backend row by row."""

import gc
import math

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql import types as st

from validr_spark import Compiler as PyCompiler
from validr_spark import Invalid, SchemaError, T, validator
from validr_spark.compiler import SparkCompiler
from validr_spark.datagen import make_sequences, sequences_schema
from validr_spark.rules import CoreRule
from validr_spark.sqltext import lit, sql_type


def _round_trips(monkeypatch, fn) -> int:
    """py4j commands sent while ``fn`` runs (gc off: no finalizer noise)."""
    n = [0]
    orig = ClientServerConnection.send_command

    def counting(self, command):
        n[0] += 1
        return orig(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    gc.disable()
    try:
        fn()
    finally:
        gc.enable()
        monkeypatch.setattr(ClientServerConnection, "send_command", orig)
    return n[0]


# Column-API builds made ~7,000 round trips for the sequences schema and
# ~17,000-19,000 for the records schema; the bounds are a tenth of that.
def test_round_trip_budget_sequences(spark, monkeypatch):
    df = make_sequences(spark, 200)
    plan = SparkCompiler().compile(sequences_schema())
    plan.apply(df, id_cols=["doc_id"])                 # warm caches
    n = _round_trips(monkeypatch,
                     lambda: plan.apply(df, id_cols=["doc_id"]))
    assert n <= 700, n


def test_round_trip_budget_records_with_pandas_udf(spark, monkeypatch):
    schema = T.dict(
        age=T.int.min(0).max(150), email=T.email, created=T.datetime,
        homepage=T.url, score=T.float.min(0).max(100),
        profile=T.dict(name=T.str.strip.minlen(2).maxlen(16),
                       city=T.str.maxlen(24)),
        tags=T.list(T.enum("red green blue")).maxlen(8))
    df = spark.createDataFrame(
        [(1, "7", "a@b.com", "2024-01-02T03:04:05.000006Z", "https://x.io",
          "1.5", ("  bob ", "Oslo"), ["red"])],
        "rid int, age string, email string, created string, "
        "homepage string, score string, "
        "profile struct<name:string,city:string>, tags array<string>")
    plan = SparkCompiler().compile(schema)
    plan.apply(df, id_cols=["rid"])
    n = _round_trips(monkeypatch, lambda: plan.apply(df, id_cols=["rid"]))
    assert n <= 1700, n
    res = plan.apply(df, id_cols=["rid"]).df.collect()[0]
    assert res["_violations"] == [] and res["profile"]["name"] == "bob"


# field name -> (schema, Spark type, input values)
_EDGE_FIELDS = {
    "a`b": (T.enum(["a'b", "c\\d", "50%", "\U0001F600"]), "string",
            ["a'b", "c\\d", "50%", "\U0001F600", "ab", "c\\\\d", "", None]),
    "a.b": (T.str.default("it's \\ 100% \U0001F600"), "string",
            [None, "", "x'\\"]),
    "a b": (T.str.match(r"\d+\.\d\\?"), "string",
            ["12.5", "12.5\\", "125", "a.b", "1.2\\\\", None]),
    "select": (T.str.maxlen(3).invalid_to("'\\\U0001F600"), "string",
               ["ab", "abcd", None]),
    "case": (T.enum(["a'b", "zz"]).optional.invalid_to_default
             .default("a'b"), "string", ["zz", "q", None]),
    "from": (T.float.min(-0.0).max(1.5), "double",
             [0.0, -0.0, 1.5, 1.5000000000000002, -1e-300, None]),
    "inf": (T.float.min(-math.inf).max(math.inf), "double",
            [1e308, -math.inf, math.inf, 5e-324, None]),
    "ex": (T.float.exmin(1.5), "string", ["1.5", "1.5000001", "abc"]),
    # bounds beyond int64 compare in DECIMAL(38,0); values beyond int64
    # but inside the bounds fail coercion to LongType (documented
    # divergence), so only in-range and out-of-bounds values compare
    "big": (T.int.min(-(2 ** 64 - 2)).max(2 ** 64 - 2), "string",
            ["5", str(-2 ** 63), str(2 ** 63 - 1), str(-(2 ** 64)),
             str(2 ** 64), "x", " 12 "]),
}


def _py_outcome(schema, raw):
    try:
        return ("ok", PyCompiler().compile(T.dict(v=schema))({"v": raw})["v"])
    except Invalid as ex:
        return ("invalid", ex.message)


def test_sql_escaping_and_literal_types_match_pyvalidate(spark):
    n = max(len(v) for _, _, v in _EDGE_FIELDS.values())
    fields = [st.StructField("rid", st.IntegerType())] + [
        st.StructField(name, {"string": st.StringType(),
                              "double": st.DoubleType()}[t])
        for name, (_, t, _) in _EDGE_FIELDS.items()]
    rows = [tuple([i] + [vals[i] if i < len(vals) else None
                         for _, _, vals in _EDGE_FIELDS.values()])
            for i in range(n)]
    df = spark.createDataFrame(rows, st.StructType(fields))
    schema = T.dict(**{k: s for k, (s, _, _) in _EDGE_FIELDS.items()})
    out = {r["rid"]: r for r in
           SparkCompiler().compile(schema).apply(df, id_cols=["rid"])
           .df.collect()}
    mism = []
    for name, (sub, _, values) in _EDGE_FIELDS.items():
        for i, raw in enumerate(values):
            got_row = out[i]
            viol = [v for v in got_row["_violations"]
                    if v["position"] == name]
            got = (("invalid", viol[0]["message"]) if viol
                   else ("ok", got_row[name]))
            want = _py_outcome(sub, raw)
            if got != want:
                mism.append((name, raw, got, want))
    assert not mism, mism


def test_float_bounds_stay_double():
    assert lit(1.5) == "1.5D" and lit(-2.5) == "(-2.5D)"
    for x in (-0.0, math.inf, -math.inf):
        assert lit(x) == f"`double`('{x!r}')"
    assert lit(2 ** 70) == str(2 ** 70) and lit(-3) == "(-3)"


def test_float_plan_has_no_decimal(spark):
    df = spark.createDataFrame([(1, 0.5)], "rid int, x double")
    res = SparkCompiler().compile(
        T.dict(x=T.float.min(-0.0).max(1.5).exmax(math.inf))
    ).apply(df, id_cols=["rid"])
    plan = res.df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "decimal" not in plan
    assert res.df.collect()[0]["x"] == 0.5


def test_type_text_quotes_field_names():
    assert sql_type(st.StructType([st.StructField("a b", st.LongType())])) \
        == "STRUCT<`a b`: bigint>"


def test_pandas_udf_rule_per_element_raises_schema_error(spark):
    df = spark.createDataFrame([(1, ["a@b.com"])], "rid int, xs array<string>")
    plan = SparkCompiler().compile(T.dict(xs=T.list(T.email)))
    with pytest.raises(SchemaError, match="per element"):
        plan.apply(df, id_cols=["rid"])


def _even_builder(sc, schema, input_type, path):
    """A Column-API custom builder (the pre-SQL-text extension contract)."""
    def coerce(col):
        return col.try_cast("long")

    def error(col, pos):
        return F.when(col.try_cast("long") % 2 != 0, F.struct(
            F.lit(f"{path}.even").alias("rule_id"), pos.alias("position"),
            F.lit("not even").alias("message"),
            col.cast("string").alias("value")))

    return CoreRule(st.LongType(), coerce, error, accept_string=False,
                    string_output=False)


@validator(accept=int, output=int)
def _even_validator(compiler):
    def validate(value):
        if value % 2:
            raise Invalid("not even")
        return value
    return validate


def test_column_api_builder_runs_in_pre_projection(spark):
    sc = SparkCompiler(validators={"even": _even_builder},
                       py_validators={"even": _even_validator})
    df = spark.createDataFrame([(1, 2, (4,)), (2, 3, (5,))],
                               "rid int, n long, s struct<m:long>")
    out = {r["rid"]: r for r in
           sc.compile(T.dict(n=T.even, s=T.dict(m=T.even)))
           .apply(df, id_cols=["rid"]).df.collect()}
    assert out[1]["n"] == 2 and out[1]["_violations"] == []
    assert [(v["rule_id"], v["position"], v["message"])
            for v in out[2]["_violations"]] == [
        ("n.even", "n", "not even"), ("s.m.even", "s.m", "not even")]
    with pytest.raises(SchemaError, match="per element"):
        sc.compile(T.dict(xs=T.list(T.even))).apply(
            spark.createDataFrame([(1, [2])], "rid int, xs array<long>"))
