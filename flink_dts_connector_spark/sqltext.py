"""SQL-text expression building: one JVM parse instead of a Column tree.

In PySpark 4.1 every ``F.*``/``Column`` call is about ten py4j round trips,
so a projection built column by column costs thousands of them per query
build. A ``selectExpr``/``F.expr`` string is parsed JVM-side in one call and
yields the same expression tree. These helpers quote names and literals so
any field name (backtick, dot, quote, space) survives the trip into SQL.
"""

from __future__ import annotations

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


def sql(name: str) -> str:
    """A column name as SQL text, following ``F.col``: dots navigate struct
    fields (``"a.b"`` → `` `a`.`b` ``); each part is quoted with `ident`.

    Names only: PySpark has no public way to render a ``Column`` as SQL
    (its classic-only node ``sql()`` gives ``*(a, 2)`` for
    ``F.col("a") * 2``), so a Column raises ``TypeError``."""
    if not isinstance(name, str):
        raise TypeError(
            f"sqltext.sql takes a column name (str), got {type(name).__name__}; "
            "pass the column's name, e.g. \"x\" rather than F.col(\"x\")"
        )
    return ".".join(ident(part) for part in name.split("."))
