"""SQL-text builds of the changelog path (`sqltext.py`): `project_table`,
`materialize_upsert` and the signed aggregates keep their output schemas
(nullability included) and rows, accept any field name, and build with a
bounded number of py4j round trips — a slide back to one Column call per
field multiplies that count by ten and fails here."""

import datetime as dt
import gc

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_dts_connector_spark.datamodel.envelope import ENVELOPE_SCHEMA
from flink_dts_connector_spark.formats.typed import project_table
from flink_dts_connector_spark.operators.changelog import (
    materialize_upsert,
    sign_col,
    signed_count,
    signed_sum,
)
from flink_dts_connector_spark.operators.similarity import _sql
from flink_dts_connector_spark.sqltext import ident, lit

#: the cdcbench consumed table's 16 columns, plus four awkward names
SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("grp", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DecimalType(18, 2)),
        T.StructField("customer", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("note", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("unit_price", T.DecimalType(18, 2)),
        T.StructField("created", T.TimestampType()),
        T.StructField("updated", T.TimestampType()),
        T.StructField("channel", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("sku", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("a`b", T.StringType()),
        T.StructField("c.d", T.LongType()),
        T.StructField("e'f", T.StringType()),
        T.StructField("g h", T.IntegerType()),
    ]
)

_PHYSICAL = (
    "k:bigint, grp:int, status:string, amount:decimal(18,2), customer:string,"
    " email:string, city:string, note:string, qty:bigint, unit_price:decimal(18,2),"
    " created:timestamp, updated:timestamp, channel:string, version:bigint, sku:string,"
    " region:string, a`b:string, c.d:bigint, e'f:string, g h:int"
)
#: output schemas of the Column-API builds these replaced, pinned verbatim
PROJECT_SCHEMA = (
    f"ts:timestamp, record_id:bigint NOT NULL, {_PHYSICAL}, op:string,"
    " topic:string, offset:bigint, timestamp_type:string"
)
UPSERT_SCHEMA = "k:bigint, ts:timestamp, record_id:bigint, " + _PHYSICAL.replace(
    "k:bigint, ", ""
) + ", topic:string, offset:bigint, timestamp_type:string"
SIGNED_SCHEMA = "grp:int, s:decimal(38,2), c:bigint, n:bigint NOT NULL"
SIGN_SCHEMA = "record_id:bigint NOT NULL, op:string, sign:int NOT NULL"


def _ddl(schema: T.StructType) -> str:
    return ", ".join(
        f"{f.name}:{f.dataType.simpleString()}{'' if f.nullable else ' NOT NULL'}"
        for f in schema.fields
    )


def _img(k, grp, amount, status):
    return {
        "k": str(k), "grp": str(grp), "status": status, "amount": amount,
        "customer": "c", "email": "e@x", "city": "x", "note": "n", "qty": "3",
        "unit_price": "1.50", "created": "2024-01-01 00:00:00",
        "updated": "2024-01-02 00:00:01", "channel": "web", "version": "1",
        "sku": "s", "region": "r", "a`b": f"q`{k}", "c.d": str(10 * k),
        "e'f": "it's", "g h": "9",
    }


def _env(spark):
    def row(i, op, before, after, db="db1", tbl="t1", tags=None):
        d = dict.fromkeys(ENVELOPE_SCHEMA.fieldNames())
        d.update(
            id=i, ts=dt.datetime(2024, 1, 1, 0, 0, i), operation=op, db=db, tbl=tbl,
            before=before, after=after, tags=tags or {}, kafka_topic="tp",
            kafka_offset=100 + i, kafka_partition=1, kafka_timestamp_type="CreateTime",
        )
        return tuple(d[n] for n in ENVELOPE_SCHEMA.fieldNames())

    rows = [
        row(1, "INSERT", None, _img(1, 1, "10.00", "a")),
        row(2, "INSERT", None, _img(2, 1, "5.00", "a")),
        row(3, "UPDATE", _img(1, 1, "10.00", "a"), _img(1, 2, "12.50", "b")),
        row(4, "DELETE", _img(2, 1, "5.00", "a"), None),
        # the tags' logical names win over db/tbl
        row(5, "INSERT", None, _img(3, 2, "1.25", "z"), db="x", tbl="y",
            tags={"l_db_name": "db1", "l_tb_name": "t1"}),
        row(6, "INSERT", None, _img(4, 2, "2.00", "y"), tbl="other"),
        row(7, "DDL", None, None),
    ]
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def _build(env):
    chg = project_table(env, SCHEMA, table="db1.t1", metadata=["topic", "offset", "timestamp-type"])
    up = materialize_upsert(chg, ["k"])
    agg = chg.groupBy("grp").agg(
        signed_sum(F.col("amount")).alias("s"),
        signed_count().alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    sign = chg.select("record_id", "op", sign_col("op").alias("sign"))
    return chg, up, agg, sign


def test_changelog_builds_keep_schema_and_rows(spark):
    chg, up, agg, sign = _build(_env(spark))
    assert _ddl(chg.schema) == PROJECT_SCHEMA
    assert _ddl(up.schema) == UPSERT_SCHEMA
    assert _ddl(agg.schema) == SIGNED_SCHEMA
    assert _ddl(sign.schema) == SIGN_SCHEMA

    got = sorted(
        (r["record_id"], r["op"], r["k"], r["grp"], str(r["amount"]), r["a`b"], r["c.d"],
         r["e'f"], r["g h"], r["topic"], r["offset"])
        for r in chg.collect()
    )
    assert got == [
        (1, "I", 1, 1, "10.00", "q`1", 10, "it's", 9, "tp", 101),
        (2, "I", 2, 1, "5.00", "q`2", 20, "it's", 9, "tp", 102),
        (3, "UA", 1, 2, "12.50", "q`1", 10, "it's", 9, "tp", 103),
        (3, "UB", 1, 1, "10.00", "q`1", 10, "it's", 9, "tp", 103),
        (4, "D", 2, 1, "5.00", "q`2", 20, "it's", 9, "tp", 104),
        (5, "I", 3, 2, "1.25", "q`3", 30, "it's", 9, "tp", 105),
    ]
    assert sorted(
        (r["k"], r["record_id"], r["grp"], r["status"], str(r["amount"]), r["c.d"])
        for r in up.collect()
    ) == [(1, 3, 2, "b", "12.50", 10), (3, 5, 2, "z", "1.25", 30)]
    assert sorted(
        (r["grp"], str(r["s"]), r["c"], r["n"]) for r in agg.collect()
    ) == [(1, "0.00", 0, 4), (2, "13.75", 2, 2)]
    assert sorted(tuple(r) for r in sign.collect()) == [
        (1, "I", 1), (2, "I", 1), (3, "UA", 1), (3, "UB", -1), (4, "D", -1), (5, "I", 1)
    ]


def test_changelog_builds_py4j_budget(spark):
    """Round trips to the JVM while building the three (measured: ≈170; the
    per-column Column builds took ≈2,500)."""
    import py4j.clientserver as cs
    import py4j.protocol as proto

    env = _env(spark)
    _build(env)  # warm caches (schema lookups, function registry)
    calls = []
    orig = cs.ClientServerConnection.send_command
    gc_del = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command):
        if not command.startswith(gc_del):  # proxy finalizers, not builds
            calls.append(command)
        return orig(self, command)

    gc.collect()
    cs.ClientServerConnection.send_command = counting
    try:
        _build(env)
    finally:
        cs.ClientServerConnection.send_command = orig
    assert 0 < len(calls) <= 250, len(calls)


def test_sqltext_quoting(spark):
    assert ident("a`b") == "`a``b`"
    assert ident("c.d") == "`c.d`"
    assert lit("it's \\ x") == "'it\\'s \\\\ x'"
    assert _sql("a.b") == "`a`.`b`"
    assert _sql("a`b") == "`a``b`"
    with pytest.raises(TypeError, match="column name"):
        _sql(F.col("a") * 2)  # no public Column -> SQL rendering


def test_sql_names_navigate_structs_and_quote_backticks(spark):
    text = "it's \\ x"
    df = spark.createDataFrame([((5, 6), 3, text)], "a struct<b: int, c: int>, `x``y` int, s string")
    r = df.select(
        F.expr(_sql("a.b")).alias("ab"),
        F.expr(_sql("x`y")).alias("xy"),
        F.expr(f"{_sql('s')} = {lit(text)}").alias("eq"),
    ).first()
    assert (r["ab"], r["xy"], r["eq"]) == (5, 3, True)
    with pytest.raises(Exception):
        df.select(F.expr(ident("a.b"))).collect()  # one quoted part: no such column
