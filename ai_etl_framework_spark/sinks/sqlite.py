"""SQLite sink with the reference loader's exact semantics.

Reference: src/adapters/destinations/sqlite_loader.py:13-248 —
CREATE TABLE from the schema with its typemap (:114-127: BOOLEAN →
INTEGER, JSON/ARRAY → TEXT via json.dumps :186-190), batched
executemany INSERT (batch 1000, :146), real BEGIN/COMMIT/ROLLBACK.

No SQLite JDBC driver ships in this runtime, so this uses the stdlib
``sqlite3`` driver-side. That means a collect per partition batch —
appropriate for the reference's use case (small gold outputs, app
state); at scale the JDBC writer (`writers.write_jdbc`) against a
real warehouse is the path. ``toLocalIterator`` keeps driver memory
bounded to one partition at a time.
"""

from __future__ import annotations

import json
import sqlite3
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ai_etl_framework_spark.sqlnames import ident

# ref sqlite_loader.py:114-127
_TYPEMAP: list[tuple[type, str]] = [
    (T.BooleanType, "INTEGER"),
    (T.ByteType, "INTEGER"),
    (T.ShortType, "INTEGER"),
    (T.IntegerType, "INTEGER"),
    (T.LongType, "INTEGER"),
    (T.FloatType, "REAL"),
    (T.DoubleType, "REAL"),
    (T.DecimalType, "REAL"),
    (T.DateType, "TEXT"),
    (T.TimestampType, "TEXT"),
    (T.ArrayType, "TEXT"),   # json.dumps (ref :186-190)
    (T.MapType, "TEXT"),
    (T.StructType, "TEXT"),
]


def _sqlite_type(dt: T.DataType) -> str:
    for cls, name in _TYPEMAP:
        if isinstance(dt, cls):
            return name
    return "TEXT"


def _jsonable(value):
    """Deep Row→dict conversion: collected Rows can nest ANYWHERE in
    an array/map/struct value (array<struct<...>> yields [Row, ...]) —
    a top-level asDict alone would json.dumps inner Rows as bare
    tuples, silently losing the field names the reference's
    json.dumps-of-dicts output carries (ref :186-190)."""
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return {k: _jsonable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_jsonable(v) for v in value]
    return value


def _encode(value, dt: T.DataType):
    if value is None:
        return None
    if isinstance(dt, T.BooleanType):
        return int(value)  # BOOLEAN → INTEGER (ref :117)
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return json.dumps(_jsonable(value), default=str)  # ref :186-190
    if isinstance(dt, (T.DateType, T.TimestampType)):
        return value.isoformat()
    return value


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "append",
    batch_size: int = 1000,
) -> int:
    """Write a DataFrame into a SQLite table inside one transaction;
    rollback on any error (ref :162-175 via adapters/base.py).
    Returns the number of rows written."""
    fields = df.schema.fields
    cols = ", ".join(f'"{f.name}" {_sqlite_type(f.dataType)}' for f in fields)
    placeholders = ", ".join("?" for _ in fields)
    names = ", ".join(f'"{f.name}"' for f in fields)

    con = sqlite3.connect(db_path)
    try:
        cur = con.cursor()
        if mode == "overwrite":
            cur.execute(f'DROP TABLE IF EXISTS "{table}"')
        cur.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({cols})')
        written = 0
        batch: list[tuple] = []

        def flush(b: Iterable[tuple]) -> None:
            cur.executemany(
                f'INSERT INTO "{table}" ({names}) VALUES ({placeholders})', list(b)
            )

        for row in df.toLocalIterator():
            batch.append(tuple(_encode(row[i], f.dataType) for i, f in enumerate(fields)))
            if len(batch) >= batch_size:
                flush(batch)
                written += len(batch)
                batch = []
        if batch:
            flush(batch)
            written += len(batch)
        con.commit()
        return written
    except Exception:
        con.rollback()
        raise
    finally:
        con.close()


def read_sqlite(spark, db_path: str, table: str) -> DataFrame:
    """Round-trip helper (test-scale): sqlite table → DataFrame."""
    con = sqlite3.connect(db_path)
    try:
        cur = con.execute(f'SELECT * FROM "{table}"')
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return spark.createDataFrame(rows, cols) if rows else spark.createDataFrame([], schema=", ".join(f"{ident(c)} string" for c in cols))
