"""The benchmark's workloads and their per-operation correctness checks.

Every workload is a closed loop with one client: an operation (a write)
runs, its output is checked, then the analyst query set runs against what
was written.  Timed seconds are the seconds of operations and queries;
checks and input generation happen between them and are not timed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter, defaultdict

import gen
import probe

SIZES = {
    # files per corpus / batch, PCRs per regular file (skewed files have 10x)
    "bulk_load": {"files": 12, "pcrs": 4},
    "incremental": {"preload": 16, "files": 1, "pcrs": 12, "revised": 6, "resends": 1},
    "sql_sink": {"files": 2, "pcrs": 120},
}
TINY = {
    "bulk_load": {"files": 3, "pcrs": 2},
    "incremental": {"preload": 3, "files": 1, "pcrs": 2, "revised": 1, "resends": 1},
    "sql_sink": {"files": 2, "pcrs": 2},
}
LAKE_QUERY_ROUNDS = 1  # query-set rounds after each lake write
# the same against the SQL target: its queries take about a millisecond, so
# many rounds spread their samples over seconds of the run, not one burst
SQL_QUERY_ROUNDS = 100
QUERY_TABLE = "evitals_06"  # canonical {tag}_value select
JOIN_PARENT = "evitals"  # eVitals -> eVitals.06 parent/child join
DECODE_TAG = "eDisposition.12"  # decode join against ElementDefinitions
DECODE_TABLE = gen.table_of(DECODE_TAG)


def query_p50(samples: dict[str, list[float]]) -> float:
    """Median over query kinds of each kind's median latency: every kind
    weighs the same however the run's samples happen to fall."""
    return statistics.median(statistics.median(v) for v in samples.values())


def quantile_tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that still has at
    least ten samples beyond it; the maximum while that percentile would
    not be above the median (20 samples or fewer)."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


class Bench:
    """State shared by all workloads: session, tracer, checks, samples."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, tiny: bool):
        self.spark = spark
        self.session_ready = time.time()  # the session is up; warm-up starts
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = TINY if tiny else SIZES
        self.tracer = probe.Tracer() if trace else None
        self.status = probe.StatusCounter(spark.sparkContext) if trace else None
        self.op_s: list[float] = []
        self.op_traced: list[bool] = []
        self.query_s: list[float] = []
        self.query_kinds: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.timed_s = 0.0
        self.elements_per_s: list[float] = []  # elements landed per second, per timed op
        self.rows_per_s: list[float] = []  # rows physically written per second, per timed op
        self.ratios: list[float] = []  # stored bytes per input byte
        self.layer = defaultdict(float)  # filesystem/hook counters summed over timed ops
        self.iter_windows: list[tuple[float, float]] = []  # traced iterations
        self.spark_counts = Counter()

    def mark_ready(self) -> None:
        """End of set-up: everything after this is the measured loop."""
        self.ready_at = time.time()

    # -- bookkeeping of operations and checks -----------------------------
    def expect(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def _call(self, span: str, fn, traced: bool):
        """``fn()`` (under a root span with the program's calls wrapped when
        traced); (result, seconds), result None when it raised."""
        if traced:
            probe.install_spans(self.tracer)
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.root(span):
                    result = fn()
            else:
                result = fn()
        except Exception as exc:  # an operation failing is a measured outcome
            self.problems.append(f"{span} raised {type(exc).__name__}: {exc}")
            result = None
        finally:
            dt = time.perf_counter() - t0
            if traced:
                self.tracer.uninstall()
        return result, dt

    def run_op(self, kind: str, fn, timed: bool, traced: bool):
        """One write operation; (result or None, seconds, problems so far)."""
        self.attempted += 1
        before = len(self.problems)
        result, dt = self._call(f"op.{kind}", fn, traced)
        if timed:
            self.op_s.append(dt)
            self.op_traced.append(traced)
            self.timed_s += dt
        return result, dt, before

    def close_op(self, before: int) -> None:
        """Count the operation as failed if a problem was added since."""
        if len(self.problems) > before:
            self.failed += 1

    def query(self, name: str, fn, check, timed: bool, traced: bool) -> None:
        self.attempted += 1
        before = len(self.problems)
        result, dt = self._call(f"query.{name}", fn, traced)
        if timed:
            self.query_s.append(dt)
            self.query_kinds[name].append(dt)
            self.timed_s += dt
        if result is not None:
            check(result)
        self.close_op(before)

    def loop(self, iteration, min_iterations: int = 2) -> None:
        """Closed loop: iterations until ``seconds`` of timed work and at
        least ``min_iterations``.  In a traced run every other iteration is
        untraced, so the run can compare the two and report the tracing
        overhead."""
        i = 0
        while self.timed_s < self.seconds or i < min_iterations:
            traced = self.trace and i % 2 == 1
            if traced:
                self.status.take()
                t0 = time.time()
            iteration(traced)
            if traced:
                self.iter_windows.append((t0, time.time()))
                self.spark_counts.update(self.status.take())
            i += 1

    # -- lake checks -------------------------------------------------------
    def check_lake(self, lake: str, expected: Counter) -> dict[str, int]:
        """Row counts per table against the generator's model, element ids
        unique, and every parent_element_id present in the parent table."""
        import pyarrow.parquet as pq

        from nemsis_xml_parser_spark.catalog import list_table_dirs

        got, ids, parents = {}, {}, {}
        for t in list_table_dirs(lake):
            tb = pq.read_table(os.path.join(lake, t), columns=["element_id", "parent_element_id"])
            got[t] = tb.num_rows
            ids[t] = tb.column("element_id").to_pylist()
            parents[t] = tb.column("parent_element_id").to_pylist()
        # a table whose last rows a rewrite removed stays, empty
        want = {t: n for t, n in expected.items() if n}
        got_rows = {t: n for t, n in got.items() if n}
        if not self.expect(got_rows == want, f"lake row counts differ: {_diff(got_rows, want)}"):
            return got
        all_ids = [i for v in ids.values() for i in v]
        self.expect(len(all_ids) == len(set(all_ids)), "duplicated element_id in lake")
        for t, ps in parents.items():
            p = gen.PARENT_TABLE.get(t)
            have = set(ids.get(p, ())) if p else set()
            orphans = sum(1 for x in ps if x is not None and x not in have)
            self.expect(orphans == 0, f"{orphans} orphans in {t}")
        return got

    def check_revised(self, lake: str, corpus: gen.Corpus, revised: list[str]) -> None:
        """Each revised PCR has exactly one eRecord.01 row, its newest."""
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(lake, "erecord_01"),
                             columns=["pcr_uuid_context", "erecord_01_value"]).to_pylist()
        for u in revised:
            vals = [r["erecord_01_value"] for r in rows if r["pcr_uuid_context"] == u]
            self.expect(vals == [corpus.pcrs[u].marker], f"revised PCR {u} carries {vals}")

    def check_statuses(self, statuses: dict, batch: gen.Batch) -> None:
        from nemsis_xml_parser_spark.schema import STATUS_OK

        for path, want in batch.expected_status.items():
            got = statuses.get(path)
            ok = {"ok": got == STATUS_OK, "error": str(got).startswith("Error")}.get(want, got == want)
            self.expect(ok, f"{os.path.basename(path)}: status {got}, expected {want}")

    def orphan_check_spark(self, lake: str) -> None:
        """``warehouse.orphan_check`` on the eVitals -> eVitals.06 pair (the
        per-operation lake check covers every pair)."""
        from nemsis_xml_parser_spark.operators.warehouse import orphan_check

        read = lambda t: self.spark.read.parquet(os.path.join(lake, t))  # noqa: E731
        n = orphan_check(read(QUERY_TABLE), read(JOIN_PARENT)).count()
        self.expect(n == 0, f"orphan_check found {n} orphans in {QUERY_TABLE}")

    # -- the analyst query set on a lake ----------------------------------
    def lake_queries(self, lake: str, corpus: gen.Corpus, defs, timed: bool, traced: bool) -> None:
        import pyspark.sql.functions as F

        from nemsis_xml_parser_spark.catalog import list_table_dirs
        from nemsis_xml_parser_spark.sources import definitions

        spark = self.spark
        want = corpus.expected_counts()
        read = lambda t: spark.read.parquet(os.path.join(lake, t))  # noqa: E731

        self.query(
            "canonical_select",
            lambda: read(QUERY_TABLE).select(f"{QUERY_TABLE}_value").collect(),
            lambda rows: self.expect(len(rows) == want[QUERY_TABLE], "canonical select row count"),
            timed, traced)

        def join():
            parent = read(JOIN_PARENT).select(F.col("element_id").alias("pid"))
            child = read(QUERY_TABLE)
            return child.join(parent, child.parent_element_id == parent.pid).count()

        self.query("parent_child_join", join,
                   lambda n: self.expect(n == want[QUERY_TABLE], "parent/child join row count"),
                   timed, traced)

        pcr = corpus.pcrs[corpus.rng_pick_pcr()]
        tables = list_table_dirs(lake)

        def reconstruct():
            parts = [
                read(t).where(F.col("pcr_uuid_context") == pcr.uuid).select(
                    "element_id", "parent_element_id", "original_tag_name",
                    F.col(f"{t}_value").alias("value"))
                for t in tables
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.collect()

        def check_pcr(rows):
            self.expect(len(rows) == sum(pcr.counts.values()), f"PCR {pcr.uuid} rebuilt with {len(rows)} rows")
            markers = [r["value"] for r in rows if r["original_tag_name"] == "eRecord.01"]
            self.expect(markers == [pcr.marker], f"PCR {pcr.uuid} carries {markers}, newest is {pcr.marker}")

        self.query("pcr_reconstruct", reconstruct, check_pcr, timed, traced)

        def decode():
            col = f"{DECODE_TABLE}_value"
            return definitions.decode_join(read(DECODE_TABLE), defs, col, DECODE_TAG).select(
                col, f"{col}_description").collect()

        def check_decode(rows):
            self.expect(len(rows) == want[DECODE_TABLE], "decode join row count")
            bad = [r for r in rows if r[0] and r[1] is None]
            self.expect(not bad, f"{len(bad)} values without a decoded description")

        self.query("decode_join", decode, check_decode, timed, traced)
        if timed:
            nfiles = lambda t: sum(1 for f in os.listdir(os.path.join(lake, t)) if f.endswith(".parquet"))  # noqa: E731
            self.layer["warehouse.files_read"] += (
                2 * nfiles(QUERY_TABLE) + nfiles(JOIN_PARENT) + nfiles(DECODE_TABLE)
                + sum(nfiles(t) for t in tables))


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    d = [f"{k}: {got.get(k)} vs {want.get(k)}" for k in keys if got.get(k) != want.get(k)]
    return ", ".join(d[:5]) + (" ..." if len(d) > 5 else "")


def _lake_bytes(lake: str) -> int:
    from nemsis_xml_parser_spark.catalog import list_table_dirs

    files = probe.lake_files(lake)
    tables = set(list_table_dirs(lake))
    return sum(b for p, b in files.items() if p.split(os.sep)[0] in tables)


def _write_counters(b: Bench, before: dict, after: dict, incoming_bytes: int,
                    touched: set[str]) -> None:
    """Files/bytes written by one ingest, split into fresh tables and
    rewrites of tables that existed before it."""
    new = {p: n for p, n in after.items() if p not in before}
    existed = {p.split(os.sep)[0] for p in before}
    rewritten = {p.split(os.sep)[0] for p in new} & existed - {"_files_processed"}
    b.layer["warehouse.files_written"] += len(new)
    b.layer["warehouse.bytes_written"] += sum(new.values())
    b.layer["overwrite.tables_rewritten"] += len(rewritten)
    b.layer["overwrite.tables_touched"] += len(rewritten & touched)
    rw = sum(n for p, n in new.items() if p.split(os.sep)[0] in rewritten)
    b.layer["overwrite.bytes_rewritten"] += rw
    b.layer["overwrite.write_amplification"] += rw / incoming_bytes if incoming_bytes else 0.0
    b.layer["bookkeeping.log_files"] += sum(1 for p in after if p.startswith("_files_processed"))
    b.layer["ops"] += 1


def _ingest(b: Bench, paths: list[str], lake: str):
    from nemsis_xml_parser_spark.operators import bookkeeping

    return bookkeeping.ingest_xml_files(b.spark, paths, lake, deterministic_ids=True)


def _definitions(b: Bench, corpus: gen.Corpus):
    from nemsis_xml_parser_spark.sources import definitions

    path = os.path.join(b.work, "ElementDefinitions.txt")
    corpus.write_element_definitions(path)
    return definitions.load_element_definitions(b.spark, path).cache()


# -- workloads ---------------------------------------------------------------

def bulk_load(b: Bench) -> None:
    """Ingest one seeded corpus into an empty lake per operation."""
    sz = b.sizes["bulk_load"]
    corpus = gen.Corpus(b.seed, os.path.join(b.work, "xml"), pcrs_per_file=sz["pcrs"])
    batch = corpus.batch(sz["files"], malformed=True)
    want = corpus.expected_counts()
    n_el = sum(want.values())
    defs = _definitions(b, corpus)
    lakes = iter(range(10**6))
    last = [None]

    def iteration(traced: bool, timed: bool = True) -> None:
        if last[0]:
            shutil.rmtree(last[0], ignore_errors=True)
        lake = last[0] = os.path.join(b.work, f"lake{next(lakes)}")
        statuses, dt, before = b.run_op("bulk_load", lambda: _ingest(b, batch.paths, lake), timed, traced)
        if statuses is not None:
            b.check_statuses(statuses, batch)
            got = b.check_lake(lake, want)
            if timed:
                b.elements_per_s.append(sum(got.values()) / dt)
                b.rows_per_s.append(sum(got.values()) / dt)
                b.ratios.append(_lake_bytes(lake) / batch.n_bytes)
                _write_counters(b, {}, probe.lake_files(lake), batch.n_bytes, set())
                b.layer["flatten.elements"] += n_el
                b.layer["flatten.files_failed"] += sum(1 for s in statuses.values() if s.startswith("Error"))
        b.close_op(before)
        for _ in range(LAKE_QUERY_ROUNDS):
            b.lake_queries(lake, corpus, defs, timed, traced)

    iteration(False, timed=False)  # warm-up
    b.mark_ready()
    b.loop(iteration)
    b.orphan_check_spark(last[0])


def incremental(b: Bench) -> None:
    """Mixed batches (new, revised and resent PCR files) into a preloaded
    lake, each followed by the query set."""
    sz = b.sizes["incremental"]
    corpus = gen.Corpus(b.seed, os.path.join(b.work, "xml"), pcrs_per_file=sz["pcrs"],
                        widen_every=max(2, sz["preload"] // 2))
    lake = os.path.join(b.work, "lake")
    defs = _definitions(b, corpus)
    pre = corpus.batch(sz["preload"])
    res, _, before = b.run_op("preload", lambda: _ingest(b, pre.paths, lake), False, False)
    if res is not None:
        b.check_statuses(res, pre)
        b.check_lake(lake, corpus.expected_counts())
    b.close_op(before)
    ingested_bytes = pre.n_bytes

    def iteration(traced: bool, timed: bool = True) -> None:
        nonlocal ingested_bytes
        old = {p.uuid: p.counts for p in corpus.pcrs.values()}
        batch = corpus.batch(sz["files"], n_revised=sz["revised"], n_resends=sz["resends"])
        incoming = Counter()
        for u, pcr in corpus.pcrs.items():
            if u not in old or u in batch.revised:
                incoming.update(pcr.counts)
        touched = set(incoming) | {t for u in batch.revised for t in old[u]}
        files_before = probe.lake_files(lake)
        statuses, dt, before = b.run_op("batch", lambda: _ingest(b, batch.paths, lake), timed, traced)
        # byte-identical resends add no data: the ratio is per distinct input byte
        new_bytes = sum(os.path.getsize(p) for p, st in batch.expected_status.items()
                        if st != gen.STATUS_SKIPPED)
        ingested_bytes += new_bytes
        if statuses is not None:
            b.check_statuses(statuses, batch)
            b.check_lake(lake, corpus.expected_counts())
            b.check_revised(lake, corpus, batch.revised)
        if statuses is not None and timed:
            after = probe.lake_files(lake)
            new_rows = _rows_in_new_files(lake, files_before, after)
            n_in = sum(incoming.values()) + corpus.envelope_rows() * sum(
                1 for s in batch.expected_status.values() if s == "ok")
            b.elements_per_s.append(n_in / dt)
            b.rows_per_s.append(new_rows / dt)
            b.ratios.append(_lake_bytes(lake) / ingested_bytes)
            _write_counters(b, files_before, after, new_bytes, touched)
            b.layer["flatten.elements"] += n_in
            b.layer["bookkeeping.files_skipped"] += sum(
                1 for s in statuses.values() if s == gen.STATUS_SKIPPED)
        b.close_op(before)
        for _ in range(LAKE_QUERY_ROUNDS):
            b.lake_queries(lake, corpus, defs, timed, traced)

    # the first batch after the preload is the slowest (JIT, first rewrite
    # of every table) and is untimed; later batches still speed up a
    # little, so the median of at least three timed batches is reported
    iteration(False, timed=False)
    b.mark_ready()
    b.loop(iteration, min_iterations=3)
    b.orphan_check_spark(lake)


def _rows_in_new_files(lake: str, before: dict, after: dict) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(lake, p)).metadata.num_rows
        for p in after if p not in before and not p.startswith("_")
    )


def sql_sink(b: Bench) -> None:
    """One ``stage_to_jdbc_distributed`` load of a flattened batch into a
    file-backed DuckDB target per operation.  Every load carries the same
    PCR keys, so the promote deletes by key on a non-empty target; each
    load is a fresh delivery of the batch (its own file names), so rows
    outside any PCR get fresh element ids."""
    from nemsis_xml_parser_spark.naming import COMMON_COLUMNS, value_column_name
    from nemsis_xml_parser_spark.operators import jdbc_sink
    from nemsis_xml_parser_spark.operators.flatten import flatten_xml_files
    from nemsis_xml_parser_spark.operators.warehouse import (
        attribute_columns_per_table,
        table_comments,
        table_frame,
        table_names,
    )

    import duck

    sz = b.sizes["sql_sink"]
    corpus = gen.Corpus(b.seed, os.path.join(b.work, "xml"), pcrs_per_file=sz["pcrs"])
    batch = corpus.batch(sz["files"])
    pcr_rows = Counter()
    for pcr in corpus.pcrs.values():
        pcr_rows.update(pcr.counts)
    envelope = corpus.base
    target = duck.DuckConn(os.path.join(b.work, "target.db"))
    defs_path = os.path.join(b.work, "ElementDefinitions.txt")
    corpus.write_element_definitions(defs_path)
    target.db.execute(
        "CREATE TABLE public.elementdefinitions AS SELECT * FROM read_csv(?, delim='|', header=true, all_varchar=true)",
        [defs_path])
    loads = iter(range(10**6))
    prev = [None]

    def prepare():
        """A fresh delivery of the batch, flattened and cached (untimed)."""
        k = next(loads)
        d = os.path.join(b.work, f"delivery{k}")
        os.makedirs(d)
        paths = []
        for p in batch.paths:
            q = os.path.join(d, os.path.basename(p))
            shutil.copyfile(p, q)
            paths.append(q)
        els = flatten_xml_files(b.spark, paths, deterministic_ids=True).cache()
        attr = attribute_columns_per_table(els)
        tables = table_names(els)
        registry = {t: list(COMMON_COLUMNS) + [value_column_name(t)] + attr.get(t, []) for t in tables}
        frames = {t: table_frame(els, t, attr.get(t, [])) for t in tables}
        keys = sorted(r["pcr_uuid"] for r in els.select("pcr_uuid").where("pcr_uuid is not null").distinct().collect())
        comments = table_comments(els)
        stage_dir = os.path.join(b.work, f"stage{k}")
        os.makedirs(stage_dir)
        if prev[0] is not None:
            prev[0].unpersist()
        prev[0] = els
        return k, dict(registry=registry, frames=frames, pcr_keys=keys, comments=comments), stage_dir

    def iteration(traced: bool, timed: bool = True) -> None:
        k, args, stage_dir = prepare()
        hooks = duck.SinkHooks(b.spark.sparkContext, stage_dir)
        t0 = time.perf_counter()
        inserted, dt, before = b.run_op(
            "sql_load", lambda: jdbc_sink.stage_to_jdbc_distributed(target, **args, **hooks.kwargs()),
            timed, traced)
        target.detach_all()
        if inserted is not None:
            want = Counter(pcr_rows)
            for t, n in envelope.items():
                want[t] += n * (k + 1)
            got = {t: target.db.execute(f'SELECT count(*) FROM public."{t}"').fetchone()[0]
                   for t in args["registry"]}
            got = {t: n for t, n in got.items() if n}
            want = {t: n for t, n in want.items() if n}
            b.expect(got == want, f"target row counts differ: {_diff(got, want)}")
            rows = sum(inserted.values())
            b.expect(rows == sum(pcr_rows.values()) + sum(envelope.values()), f"{rows} rows inserted")
            if timed:
                b.elements_per_s.append(rows / dt)
                b.rows_per_s.append(rows / dt)
                b.layer["ops"] += 1
                b.layer["jdbc_sink.stage_s"] += (hooks.promote_started or t0) - t0
                b.layer["jdbc_sink.promote_s"] += t0 + dt - (hooks.promote_started or t0)
                b.layer["jdbc_sink.connections"] += hooks.connections.value + 1
                b.layer["jdbc_sink.bulk_insert_s"] += hooks.bulk_insert_s.value
                b.layer["jdbc_sink.rows"] += rows
            if k == 0:
                b.ratios.append(os.path.getsize(os.path.join(b.work, "target.db")) / batch.n_bytes)
        b.close_op(before)
        shutil.rmtree(stage_dir, ignore_errors=True)
        sql_queries(b, target, corpus, timed, traced)

    iteration(False, timed=False)  # warm-up; its stored-bytes ratio is the run's
    b.mark_ready()
    # loads keep speeding up for a few iterations; four make a steady median
    b.loop(iteration, min_iterations=4)
    target.close()


def sql_queries(b: Bench, target, corpus: gen.Corpus, timed: bool, traced: bool) -> None:
    """The analyst query set against the SQL target."""
    db = target.db
    want = Counter()
    for pcr in corpus.pcrs.values():
        want.update(pcr.counts)
    tables = [r[0] for r in db.execute(
        "SELECT table_name FROM information_schema.tables WHERE table_schema='public' "
        "AND table_name <> 'elementdefinitions'").fetchall()]
    pcr = corpus.pcrs[corpus.rng_pick_pcr()]
    col = f"{DECODE_TABLE}_value"
    union = " UNION ALL ".join(
        f'SELECT element_id, original_tag_name, "{t}_value" AS value FROM public."{t}" WHERE pcr_uuid_context = $1'
        for t in tables)
    for _ in range(SQL_QUERY_ROUNDS):
        b.query("canonical_select",
                lambda: db.execute(f"SELECT {QUERY_TABLE}_value FROM public.{QUERY_TABLE}").fetchall(),
                lambda rows: b.expect(len(rows) == want[QUERY_TABLE], "canonical select row count"),
                timed, traced)
        b.query("parent_child_join",
                lambda: db.execute(
                    f"SELECT count(*) FROM public.{QUERY_TABLE} c JOIN public.{JOIN_PARENT} p "
                    "ON c.parent_element_id = p.element_id").fetchone()[0],
                lambda n: b.expect(n == want[QUERY_TABLE], "parent/child join row count"),
                timed, traced)
        b.query("pcr_reconstruct", lambda: db.execute(union, [pcr.uuid]).fetchall(),
                lambda rows: b.expect(len(rows) == sum(pcr.counts.values()), "PCR reconstruction row count"),
                timed, traced)
        b.query("decode_join",
                lambda: db.execute(
                    f"SELECT f.{col}, d.CodeDescription FROM public.{DECODE_TABLE} f "
                    "LEFT JOIN public.elementdefinitions d ON d.ElementNumber = $1 AND trim(d.Code) = f."
                    f"{col}", [DECODE_TAG]).fetchall(),
                lambda rows: b.expect(
                    len(rows) == want[DECODE_TABLE] and all(r[1] for r in rows if r[0]),
                    "decode join rows"),
                timed, traced)


WORKLOADS = {"bulk_load": bulk_load, "incremental": incremental, "sql_sink": sql_sink}
