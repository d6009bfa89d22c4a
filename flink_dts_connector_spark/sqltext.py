"""SQL-text expression building: one JVM parse instead of a Column tree.

In PySpark 4.1 every ``F.*``/``Column`` call is about ten py4j round trips,
so a projection built column by column costs thousands of them per query
build. A ``selectExpr``/``F.expr`` string is parsed JVM-side in one call and
yields the same expression tree. These helpers quote names and literals so
any field name (backtick, dot, quote, space) survives the trip into SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import types as T


def ident(name: str) -> str:
    """One identifier, backtick-quoted, embedded backticks doubled: names
    exactly the column ``name``, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def lit(s: str) -> str:
    """A SQL string literal (backslash escapes, Spark's default parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: T.DataType) -> str:
    """Cast target for an atomic type. ``timestamp_ltz``, not
    ``timestamp``, so the session's ``spark.sql.timestampType`` cannot turn
    a declared ``TimestampType`` into TIMESTAMP_NTZ."""
    return "timestamp_ltz" if isinstance(dt, T.TimestampType) else dt.simpleString()


def sql(c: Column | str) -> str:
    """A column as SQL text. A name follows ``F.col``: dots navigate struct
    fields (``"a.b"`` → `` `a`.`b` ``); each part is quoted with `ident`. A
    Column renders through its node's ``sql()``, which is valid SQL for a
    plain reference to a name that needs no quoting, not for an operator
    (``F.col("a") * 2`` renders ``*(a, 2)``) or a name like ``a b``."""
    if isinstance(c, str):
        return ".".join(ident(part) for part in c.split("."))
    return c._jc.node().sql()
