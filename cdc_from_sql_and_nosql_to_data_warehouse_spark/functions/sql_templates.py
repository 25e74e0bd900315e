"""Injection-safe SQL statement templating for the Spark SQL surface.

Re-expresses the reference's T6 (string templating of DDL/INSERT/COPY):

- ``source/load_data_to_rds_lambda/handler.py:30-37`` builds a dynamic
  all-varchar ``CREATE TABLE`` with ``str.format`` over header-derived
  column names;
- ``handler.py:39-46`` builds a parameterized ``INSERT INTO ... VALUES``
  and drives it with ``executemany``;
- ``source/load_s3_files_from_dynamodb_stream_to_redshift_lambda/
  handler.py:88-94`` f-strings a Redshift ``COPY ... format as json
  'auto'`` per staged file.

The reference interpolates raw strings (safe only because every input
is its own config); this module makes the same statement shapes safe
for arbitrary names/values and renders them as Spark SQL, where the
warehouse equivalents are ``CREATE TABLE ... USING parquet``,
multi-row ``INSERT INTO ... VALUES``, and ``INSERT INTO ... SELECT``
over a file-format table (``json.`/path/```) — Spark's COPY: the load
is a distributed scan + append, never a driver row loop.

Escaping contract (Spark SQL lexer rules):

- identifiers are backtick-quoted; embedded backticks double (````` ``
  inside a quoted identifier is one backtick);
- string literals are single-quoted; embedded single quotes and
  backslashes are backslash-escaped (Spark's default lexer treats
  ``\\`` as an escape inside string literals, unlike ANSI SQL);
- non-string literals render as typed SQL (``DATE '...'``,
  ``TIMESTAMP '...'``, bare numerics, TRUE/FALSE, NULL) so the parser
  — not Python ``str()`` — owns the type.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import re
from collections.abc import Iterable, Sequence

from pyspark.sql import types as T

_IDENT_FORBIDDEN = re.compile(r"[\x00-\x1f\x7f]")


def quote_ident(name: str) -> str:
    """Backtick-quote one SQL identifier part (table/column name).

    Any name round-trips except control characters, which no sane
    schema contains and which are rejected rather than smuggled.
    """
    if not isinstance(name, str) or not name:
        raise ValueError(f"identifier must be a non-empty string: {name!r}")
    if _IDENT_FORBIDDEN.search(name):
        raise ValueError(f"identifier contains control characters: {name!r}")
    return "`" + name.replace("`", "``") + "`"


def quote_qualified(name: str | Sequence[str]) -> str:
    """Quote a possibly dot-qualified name: a sequence quotes each part;
    a plain string splits on dots (use the sequence form when a part
    itself contains a dot)."""
    parts = name.split(".") if isinstance(name, str) else list(name)
    return ".".join(quote_ident(p) for p in parts)


def quote_literal(value: object) -> str:
    """Render one Python value as a Spark SQL literal."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(value):
            return f"CAST('{'-' if value < 0 else ''}Infinity' AS DOUBLE)"
        # repr round-trips doubles exactly; the D suffix is load-bearing:
        # a bare decimal literal parses as DECIMAL, silently rounding
        # any fraction that needs more than 38 significant digits
        return repr(value) + "D"
    if isinstance(value, decimal.Decimal):
        if not value.is_finite():
            raise ValueError(f"no SQL literal for a non-finite decimal: {value}")
        # the BD suffix keeps the exact digits as a DECIMAL literal
        return f"{value:f}BD"
    if isinstance(value, _dt.datetime):
        return f"TIMESTAMP '{value.isoformat(sep=' ')}'"
    if isinstance(value, _dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, (bytes, bytearray)):
        return f"X'{bytes(value).hex()}'"
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    raise TypeError(f"no SQL literal rendering for {type(value).__name__}")


def sql_type(dt: T.DataType) -> str:
    """Render a Spark type as SQL type text (a ``CAST`` target). Struct
    field names are backtick-quoted at every depth, so a field named
    ``a`b`` or ``x.y`` survives the round trip; leaf types use Spark's
    own ``simpleString``. Nested fields render nullable: a cast target
    never needs to narrow nullability."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{quote_ident(f.name)}: {sql_type(f.dataType)}" for f in dt.fields
        )
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def render_sql(
    template: str,
    identifiers: dict[str, str | Sequence[str]] | None = None,
    literals: dict[str, object] | None = None,
) -> str:
    """``str.format``-style rendering (the reference's T6 mechanism)
    where every identifier field is backtick-quoted and every literal
    field is escaped. A placeholder present in both maps is an error;
    a placeholder in neither raises ``KeyError`` from ``format_map``.
    """
    ids = dict(identifiers or {})
    lits = dict(literals or {})
    overlap = set(ids) & set(lits)
    if overlap:
        raise ValueError(f"placeholders in both maps: {sorted(overlap)}")
    rendered = {k: quote_qualified(v) for k, v in ids.items()}
    rendered.update({k: quote_literal(v) for k, v in lits.items()})
    return template.format_map(rendered)


def create_all_varchar_table_ddl(
    table: str | Sequence[str],
    column_names: Iterable[str],
    varchar_len: int = 40,
    if_not_exists: bool = True,
    using: str = "parquet",
) -> str:
    """K6's dynamic DDL (``load_data_to_rds_lambda/handler.py:30-37``):
    every header-derived column typed ``VARCHAR(40)``, no primary key.
    Spark restatement: ``USING parquet`` warehouse table."""
    cols = ", ".join(
        f"{quote_ident(c)} VARCHAR({int(varchar_len)})" for c in column_names
    )
    if not cols:
        raise ValueError("at least one column required")
    ine = "IF NOT EXISTS " if if_not_exists else ""
    return (
        f"CREATE TABLE {ine}{quote_qualified(table)} ({cols}) "
        f"USING {quote_ident(using)}"
    )


def insert_values_stmt(
    table: str | Sequence[str],
    column_names: Sequence[str],
    rows: Sequence[Sequence[object]],
) -> str:
    """K1's parameterized insert (``handler.py:39-46``) as one multi-row
    ``INSERT INTO ... VALUES`` with escaped literals (the reference's
    ``%s``/``executemany`` parameter binding, rendered server-side).

    For bulk loads prefer ``copy_from_files_stmt`` / DataFrame writes —
    VALUES literals are a driver-sized path by construction, same as the
    reference's in-memory ``csv_data`` list.
    """
    if not rows:
        raise ValueError("at least one row required")
    width = len(column_names)
    if width == 0 or any(len(r) != width for r in rows):
        raise ValueError("every row must match column_names in width")
    cols = ", ".join(quote_ident(c) for c in column_names)
    vals = ", ".join(
        "(" + ", ".join(quote_literal(v) for v in r) + ")" for r in rows
    )
    return f"INSERT INTO {quote_qualified(table)} ({cols}) VALUES {vals}"


def copy_from_files_stmt(
    table: str | Sequence[str],
    path: str,
    column_names: Sequence[str],
    file_format: str = "json",
) -> str:
    """The Redshift ``COPY ... format as json 'auto'`` shape
    (``load_s3_files...handler.py:88-94``) as Spark SQL: an ``INSERT
    INTO ... SELECT`` over a file-format table reference — a
    distributed scan + append, Spark's native bulk load.

    ``column_names`` is required because file-format tables infer
    column order from the data (JSON orders alphabetically): selecting
    by name reproduces COPY's by-name ``json 'auto'`` mapping instead
    of fragile positional insertion.
    """
    if file_format not in {"json", "parquet", "csv", "orc", "text"}:
        raise ValueError(f"unsupported file format: {file_format!r}")
    if not column_names:
        raise ValueError("column_names required for by-name load")
    cols = ", ".join(quote_ident(c) for c in column_names)
    src = f"{file_format}.{quote_ident(path)}"
    return (
        f"INSERT INTO {quote_qualified(table)} ({cols}) "
        f"SELECT {cols} FROM {src}"
    )
