"""Which public calls the traced runs wrap, and what they count.

Each wrapped call becomes a span named ``<module>.<function>``; the
per-layer metrics are the busy and self times of those spans plus the
counts recorded here.  Nothing in the program is edited.
"""

from __future__ import annotations

import os
import time


class _TimedConnection:
    """sqlite3 connection proxy that times ``executemany`` (the insert)."""

    def __init__(self, con, tracer):
        self._con, self._tracer = con, tracer

    def executemany(self, sql, rows):
        t = time.perf_counter()
        try:
            return self._con.executemany(sql, rows)
        finally:
            self._tracer.count("database.insert_s", time.perf_counter() - t)

    def __getattr__(self, name):
        return getattr(self._con, name)


class _Sqlite3:
    """Stand-in for the ``sqlite3`` module inside ``sinks.database``."""

    def __init__(self, real, tracer):
        self._real, self._tracer = real, tracer

    def connect(self, *args, **kwargs):
        return _TimedConnection(self._real.connect(*args, **kwargs), self._tracer)

    def __getattr__(self, name):
        return getattr(self._real, name)


def install(tracer) -> None:
    """Wrap every layer boundary the benchmark measures."""
    try:  # the class whose instances the program actually holds
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from healthkit_to_sqlite_spark import catalog, session
    from healthkit_to_sqlite_spark.operators import schema_infer
    from healthkit_to_sqlite_spark.sinks import database, manifest
    from healthkit_to_sqlite_spark.sources import healthkit

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(catalog, "load_table", "catalog.load_table",
                after=lambda r, a, k: tracer.count("catalog.load_table_calls"))

    def chunks(staged, args, kwargs):
        d = staged.records_dir
        tracer.count("healthkit.record_chunks",
                     len(os.listdir(d)) if d else 1)

    tracer.wrap(healthkit, "stage_zip", "healthkit.stage_zip", after=chunks)
    tracer.wrap(healthkit, "read_records", "healthkit.read_records",
                after=lambda df, a, k: tracer.count(
                    "healthkit.metadata_keys",
                    sum(c.startswith("metadata_") for c in df.columns)))
    tracer.wrap(healthkit, "record_tables_onepass",
                "healthkit.record_tables_onepass",
                after=lambda t, a, k: tracer.count("healthkit.record_types", len(t)))
    for fn in ("read_workouts", "read_gpx_routes", "read_activity_summaries"):
        tracer.wrap(healthkit, fn, f"healthkit.{fn}")
    tracer.wrap(healthkit, "convert", "healthkit.convert", root=True)
    tracer.wrap(schema_infer, "apply_inferred_types",
                "schema_infer.apply_inferred_types",
                after=lambda r, a, k: tracer.count(
                    "schema_infer.apply_inferred_types_calls"))

    def wrote(result, args, kwargs):
        tables = args[0] if args else kwargs["tables"]
        tracer.count("database.tables", len(tables))

    tracer.wrap(database, "write_sqlite", "database.write_sqlite", after=wrote)
    tracer._set(database, "sqlite3", _Sqlite3(database.sqlite3, tracer))
    orig_iter = DataFrame.toLocalIterator

    def timed_iter(self, *args, **kwargs):
        t = time.perf_counter()
        it = orig_iter(self, *args, **kwargs)
        waited = time.perf_counter() - t
        rows = 0
        try:
            while True:
                t = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    return
                finally:
                    waited += time.perf_counter() - t
                rows += 1
                yield row
        finally:
            tracer.count("database.fetch_wait_s", waited)
            tracer.count("database.rows", rows)

    tracer._set(DataFrame, "toLocalIterator", timed_iter)
    tracer.wrap(manifest.ManifestCatalog, "publish_pass", "manifest.publish_pass")
    tracer.wrap(manifest.ManifestCatalog, "read", "manifest.read")
