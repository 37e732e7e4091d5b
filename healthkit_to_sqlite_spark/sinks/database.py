"""Database sinks (reference A12-A14: typed batch insert, DDL lifecycle).

The reference writes one SQLite row per INSERT inside a transaction
(core.rs:687-718, 59-72).  Spark-native equivalents:

- ``write_sqlite`` — driver-side sqlite3 with executemany over
  ``toLocalIterator`` (streams one partition at a time; never
  materializes the dataset): an actual .db file a Datasette user
  could open.  Fine for export-sized data (the reference's own
  regime); at 100 TB you would not write SQLite at all.
- ``write_tables_atomic`` — the table-per-type fan-out (A4) as
  manifest-committed parquet, published in one commit.
- ``write_bucketed`` — bucketed, sorted tables for shuffle-free
  co-located joins.
"""

from __future__ import annotations

import datetime as _dt
import os
import sqlite3

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SQLITE_TYPES = {
    T.LongType: "INTEGER", T.IntegerType: "INTEGER", T.ShortType: "INTEGER",
    T.DoubleType: "REAL", T.FloatType: "REAL",
    T.DateType: "DATE", T.TimestampType: "DATE", T.TimestampNTZType: "DATE",
    T.BooleanType: "INTEGER",
}


def _sqlite_type(dt: T.DataType) -> str:
    """Reference DDL type mapping (core.rs:170-189; TIMESTAMP/DATE both
    map to SQLite DATE exactly as the reference collapses them)."""
    return _SQLITE_TYPES.get(type(dt), "TEXT")


def _quote(ident: str) -> str:
    """Backtick-quote identifiers — metadata keys may contain spaces
    (reference core.rs:78-83).  Unlike the reference (which interpolates
    table names unquoted into INSERT, core.rs:693-695), we quote both."""
    return '`' + ident.replace('`', '``') + '`'


def create_table_sql(name: str, schema: T.StructType) -> str:
    """A14: idempotent DDL (reference core.rs:118-130; columns in schema
    order rather than the reference's BTreeMap lexicographic order)."""
    cols = ", ".join(f"{_quote(f.name)} {_sqlite_type(f.dataType)}"
                     for f in schema.fields)
    return f"CREATE TABLE IF NOT EXISTS {_quote(name)} ({cols})"


def _to_sqlite_value(v):
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, (list, dict)):
        import json
        return json.dumps(v)
    return v


def write_sqlite(tables: dict[str, DataFrame], db_path: str,
                 drop: bool = False, batch_size: int = 1000) -> None:
    """A12/A13: write the logical catalog to a SQLite file.

    Streams via toLocalIterator (one partition in driver memory at a
    time), batched executemany — the batch upgrade over the
    reference's row-at-a-time INSERT (core.rs:688-718).  ONE
    transaction for the whole pass, exactly the reference's
    one-transaction-per-pass (core.rs:59-61, 70-72): a run that dies
    mid-pass rolls back to zero visible tables, never a partial set.
    ``drop`` reproduces the CLI --drop flow (main.rs:39-62)."""
    if drop and os.path.exists(db_path):
        os.remove(db_path)
    # isolation_level=None + explicit BEGIN: Python's legacy implicit
    # transactions run DDL in autocommit, which would leave earlier
    # tables' CREATEs committed on a mid-pass crash
    con = sqlite3.connect(db_path, isolation_level=None)
    try:
        con.execute("BEGIN")
        try:
            for name, df in tables.items():
                cols = df.columns
                con.execute(create_table_sql(name, df.schema))
                placeholders = ", ".join("?" for _ in cols)
                collist = ", ".join(_quote(c) for c in cols)
                sql = (f"INSERT INTO {_quote(name)} ({collist}) "
                       f"VALUES ({placeholders})")
                batch = []
                for row in df.toLocalIterator():
                    batch.append(tuple(_to_sqlite_value(v) for v in row))
                    if len(batch) >= batch_size:
                        con.executemany(sql, batch)
                        batch = []
                if batch:
                    con.executemany(sql, batch)
            con.execute("COMMIT")
        except BaseException:
            con.execute("ROLLBACK")
            raise
    finally:
        con.close()


def write_tables_atomic(tables: dict[str, DataFrame], root: str) -> int:
    """A4 fan-out with the reference's one-transaction-per-pass
    semantics at parquet scale: stage EVERY per-type table's files,
    then publish ONE manifest commit for the whole pass
    (sinks/manifest.ManifestCatalog).  A run that dies mid-pass
    leaves zero visible tables — matching the reference's single
    SQLite transaction (core.rs:59-61, 70-72) — where a plain
    per-table parquet write could leave a partial table set.  Returns
    the published catalog version."""
    from .manifest import ManifestCatalog

    return ManifestCatalog(root).publish_pass(tables)


def write_bucketed(df: DataFrame, table: str, key: str,
                   buckets: int = 8, sort: bool = True,
                   mode: str = "overwrite") -> None:
    """Materialize a table bucketed (and optionally sorted) by a join
    key — the 100 TB co-location strategy: two tables bucketed on the
    same key with the same bucket count join with ZERO exchanges (and
    with ``sort=True``, zero sorts) because every bucket pair is
    already co-partitioned on disk.  This is how the flagship
    orders⋈lineitem join becomes shuffle-free at scale (SURVEY.md §7.1
    note); tests/test_plans.py asserts the property on the plan."""
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
