"""File-backed DuckDB SQL target for ``stage_to_jdbc_distributed``.

The driver connection speaks the psycopg2 transaction contract the sink
expects; executors stage each partition into their own DuckDB file and
bulk-insert it as an Arrow table, and the promote ATTACHes those files.
Connections and bulk-insert seconds are counted in the hooks through
Spark accumulators, so the counts come from the executors themselves.
"""

from __future__ import annotations

import os
import time


class DuckConn:
    """psycopg2-style cursor/commit/rollback over one DuckDB connection."""

    def __init__(self, path: str):
        import duckdb

        # one thread, like one server backend serving one client connection
        self.db = duckdb.connect(path, config={"threads": 1})
        self.db.execute("CREATE SCHEMA IF NOT EXISTS public;")
        self._in_txn = False
        self.attached: list[str] = []

    def _begin(self):
        if not self._in_txn:
            self.db.execute("BEGIN TRANSACTION;")
            self._in_txn = True

    def cursor(self):
        conn = self

        class _Cur:
            def execute(self, sql, params=None):
                conn._begin()
                conn.db.execute(sql, params)
                return self

            def executemany(self, sql, rows):
                conn._begin()
                conn.db.executemany(sql, rows)
                return self

            def fetchall(self):
                return conn.db.fetchall()

            def fetchone(self):
                return conn.db.fetchone()

        return _Cur()

    def commit(self):
        if self._in_txn:
            self.db.execute("COMMIT;")
            self._in_txn = False

    def rollback(self):
        if self._in_txn:
            self.db.execute("ROLLBACK;")
            self._in_txn = False

    def detach_all(self):
        for name in self.attached:
            self.db.execute(f"DETACH {name};")
        self.attached.clear()

    def close(self):
        self.detach_all()
        self.db.close()


class SinkHooks:
    """The sink's hook arguments for one load into ``stage_dir``, with
    executor-side counters and a driver-side mark of when promote starts."""

    def __init__(self, sc, stage_dir: str):
        self.stage_dir = stage_dir
        self.connections = sc.accumulator(0)
        self.bulk_insert_s = sc.accumulator(0.0)
        self.promote_started: float | None = None

    def kwargs(self) -> dict:
        from nemsis_xml_parser_spark.operators.jdbc_sink import stage_table_name

        stage_dir, connections, bulk_s = self.stage_dir, self.connections, self.bulk_insert_s

        def connect_fn(pid):
            import duckdb

            connections.add(1)
            return duckdb.connect(os.path.join(stage_dir, f"stg_{pid}.db"))

        def stage_ref(table, pid):
            return f'stg{pid}."{stage_table_name(table, pid)}"'

        def prepare_promote(conn, staged):
            self.promote_started = time.perf_counter()
            for pid in sorted({pid for _, pid, n in staged if n}):
                conn.db.execute(
                    f"ATTACH '{stage_dir}/stg_{pid}.db' AS stg{pid} (READ_ONLY);"
                )
                conn.attached.append(f"stg{pid}")

        def stage_rows(conn, stage, schema, cols, rows):
            import pyarrow as pa

            t0 = time.perf_counter()
            tb = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
            conn.register("_stg_src", tb)
            qual = f'"{schema}"."{stage}"' if schema else f'"{stage}"'
            conn.execute(f"INSERT INTO {qual} SELECT * FROM _stg_src")
            conn.unregister("_stg_src")
            bulk_s.add(time.perf_counter() - t0)

        return dict(
            connect_fn=connect_fn,
            stage_schema=None,
            stage_ref=stage_ref,
            prepare_promote=prepare_promote,
            paramstyle="qmark",
            stage_rows=stage_rows,
        )
