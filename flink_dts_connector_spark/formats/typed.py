"""Typed table projection — the `dts-cdc` decoding format, Spark-first.

The reference's `DTSSubscribeRowDataDeserializationSchema`
(`formats/physicaltable/DTSSubscribeRowDataDeserializationSchema.java:65-93`)
filters to one physical table + INSERT/UPDATE/DELETE, projects before/after
row images into the user's declared row type, and emits a changelog where an
UPDATE becomes two rows (UPDATE_BEFORE + UPDATE_AFTER, mode declared at
`DTSSubscribeTableSourceFactory.java:50-57`).

Spark has no RowKind, so the changelog kind is an explicit ``op`` column
(I/UB/UA/D) — downstream operators consume it with the changelog kit
(`operators/changelog.py`). Everything here is built-in SQL expressions
(map access + cast + explode), built as SQL text with one JVM parse per
step (`sqltext.py`) rather than one py4j Column call per field; they run
JVM-side, codegen'd, with no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from flink_dts_connector_spark.sqltext import ident, lit, sql_type

#: changelog kinds, parity with Flink RowKind shortStrings
OP_INSERT, OP_UPDATE_BEFORE, OP_UPDATE_AFTER, OP_DELETE = "I", "UB", "UA", "D"

#: Declarable metadata keys → envelope columns, parity with the reference's
#: connector ReadableMetadata enum (`table/DtsDynamicSource.java:268-345`:
#: topic/partition/headers/offset/timestamp/timestamp-type) — the
#: `col TYPE METADATA FROM '<key>'` surface of its CREATE TABLE.
METADATA_KEYS = {
    "topic": "kafka_topic",
    "partition": "kafka_partition",
    "headers": "kafka_headers",
    "offset": "kafka_offset",
    "timestamp": "kafka_timestamp",
    "timestamp-type": "kafka_timestamp_type",
}


def project_table(
    env: DataFrame,
    schema: T.StructType,
    table: str | None = None,
    include_metadata: bool = True,
    metadata: list[str] | None = None,
) -> DataFrame:
    """Generic envelope → typed changelog rows for one declared table.

    ``schema`` plays the role of the reference's CREATE TABLE column list
    (`table/DtsDynamicTableFactory.java:76-77`): image map values are cast
    per declared field type. ``table`` is the ``db.tbl`` qualified-name
    filter (`'dts-cdc.table.name'`).

    UPDATE rows double into UB/UA via an array+explode — one narrow
    projection, no shuffle, no Python.
    """
    where = "operation IN ('INSERT', 'UPDATE', 'DELETE')"
    if table is not None:
        where += (
            " AND concat_ws('.', coalesce(element_at(tags, 'l_db_name'), db),"
            f" coalesce(element_at(tags, 'l_tb_name'), tbl)) = {lit(table)}"
        )

    def pair(img: str, op: str) -> str:
        return f"struct({img} AS img, {lit(op)} AS op)"

    # the cast pins the element type (op declared NOT NULL inside the
    # struct), as the reference's RowKind is never null
    changelog = (
        f"CAST(CASE WHEN operation = 'INSERT' THEN array({pair('after', OP_INSERT)})"
        f" WHEN operation = 'DELETE' THEN array({pair('before', OP_DELETE)})"
        f" ELSE array({pair('before', OP_UPDATE_BEFORE)}, {pair('after', OP_UPDATE_AFTER)})"
        " END AS array<struct<img: map<string, string>, op: string NOT NULL>>)"
    )
    df = env.where(where).selectExpr("*", f"explode({changelog}) AS _chg")

    cols = [
        f"CAST(element_at(_chg.img, {lit(f.name)}) AS {sql_type(f.dataType)}) AS {ident(f.name)}"
        for f in schema.fields
    ]
    cols.append("_chg.op AS op")
    if include_metadata:
        cols = ["ts", "id AS record_id"] + cols
    if metadata:
        # PHYSICAL + CONNECTOR METADATA ordering, per the reference's
        # produced-row convention (DtsDynamicSource.listReadableMetadata)
        for key in metadata:
            src = METADATA_KEYS.get(key)
            if src is None:
                raise ValueError(
                    f"unknown metadata key {key!r}; valid: {sorted(METADATA_KEYS)}"
                )
            cols.append(f"{src} AS {ident(key.replace('-', '_'))}")
    return df.selectExpr(*cols)
