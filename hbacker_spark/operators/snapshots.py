"""Snapshot export/import core — the reference's S1-S10 + §2.B semantics
re-expressed as DataFrame plans over partitioned Parquet snapshots.

Payload model (SURVEY.md §1.1): versioned wide-column cells

    row_key STRING, cf STRING, qualifier STRING, ts LONG (epoch-ms),
    value STRING

Layout parity: one directory per session per table —
``dest_root/session_name/table_name/`` (export.rb:76, import.rb:65).
Snapshot parquet is written partitioned by nothing *inside* the table dir
(the session/table dirs are the partition scheme, so incremental chains
and PITR prune whole directories — the Spark analog of the reference's
time-range pruning).

Scale notes:
- the version-limit window shuffles once on the cell key (row_key, cf,
  qualifier). Spark turns rank<=k into WindowGroupLimit (map-side
  partial top-k) only for k <= spark.sql.optimizer.windowGroupLimitThreshold
  (1000): restore's max_versions=1 gets it, the export's default
  versions=100_000 does not, so an export sorts every cell in its range.
- restore reads all N session dirs through ONE multi-path parquet scan
  (r9; previously an N-way unionByName) — a single scan node whose
  analysis cost is O(1) in chain length, with column pruning pushed
  into it. The ts cutoff is bound by reference (``_at_or_before``) so
  every restore reuses one compiled class; it is not pushed down.
- one Spark pass per exported table: the write carries an Observation
  (row count, min/max ts), so emptiness (S6) is known from the write
  itself; a probe such as ``limit(1).isEmpty()`` would re-run the scan
  and the version window before the write ran them again.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbacker_spark.catalog.catalog import Catalog
from hbacker_spark.sources import storage

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("cf", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),  # epoch-ms, HBase-style
        T.StructField("value", T.StringType(), True),
    ]
)

CELL_KEY = ("row_key", "cf", "qualifier")
DEFAULT_VERSIONS = 100_000  # reference default (cli.rb:71-74)
DEFAULT_MAX_RETRIES = 2  # transient-failure retries per table (Q5)

# Q5 transient-vs-permanent split (worker.rb:28-48: transient AWS errors
# are released back to the queue for retry; permanent ones are buried).
# Spark already retries TASK failures; this is the driver-level analog
# for whole-table export failures (network blips, object-store 500/503
# throttling) — matched on exception type or message markers.
_TRANSIENT_MARKERS = (
    "timeout",
    "timed out",
    "connection reset",
    "connection refused",
    "broken pipe",
    "service unavailable",
    "slow down",
    "throttl",
    "internal server error",
    "temporarily unavailable",
)


def is_transient_error(ex: BaseException) -> bool:
    """True for errors worth a bounded in-place retry (Q5 'release'),
    False for permanent ones that get recorded and re-raised ('bury')."""
    if isinstance(ex, (ConnectionError, TimeoutError)):
        return True
    text = f"{type(ex).__name__}: {ex}".lower()
    return any(m in text for m in _TRANSIENT_MARKERS)


def _now_ms() -> int:
    return int(datetime.now(timezone.utc).timestamp() * 1000)


def _require_versions(versions: int) -> None:
    """A limit below one version keeps no cell: the export would record
    the range ``empty`` and advance the watermark past cells it never
    wrote, so the next increment would skip them for good."""
    if versions < 1:
        raise ValueError(
            f"versions must be >= 1, got {versions} — an export keeping no version loses the range"
        )


def snapshot_path(dest_root: str, session_name: str, table_name: str) -> str:
    """dest = dest_root + session + "/" + table (export.rb:76)."""
    return os.path.join(dest_root, session_name, table_name)


def version_limited(cells: DataFrame, versions: int) -> DataFrame:
    """Keep the newest ``versions`` cells per (row_key, cf, qualifier) —
    the MR Export job's <versions> argument (export.rb:150-151)."""
    w = Window.partitionBy(*CELL_KEY).orderBy(F.col("ts").desc())
    return (
        cells.withColumn("_vr", F.row_number().over(w)).filter(F.col("_vr") <= versions).drop("_vr")
    )


def _at_or_before(cutoff_ts: int):
    """``ts <= cutoff_ts`` with the cutoff bound by reference.

    A plain ``F.col("ts") <= cutoff_ts`` writes the LONG literal into the
    generated Java source, so every new cutoff compiles new classes and
    re-warms the JIT. Wrapped in a struct, the folded literal is passed
    to the generated code as a reference object, so restores of the same
    shape share one compiled class whatever their cutoff. The cast keeps
    both structs ``struct<ts: bigint>`` (a cutoff below 2^31 is an INT
    literal); struct ordering puts NULL first, hence ``IS NOT NULL``.
    Parquet cannot push a struct comparison, so this trades away ``ts``
    row-group pruning, which restore does not need (see
    :meth:`SnapshotStore.restore_point_in_time`). One SQL expression is
    one JVM call; the same tree built from Column calls took ~9 ms.
    """
    return F.expr(f"ts IS NOT NULL AND struct(ts) <= struct(CAST({int(cutoff_ts)} AS BIGINT))")


def scan_export(cells: DataFrame, start_time: int, end_time: int, versions: int = DEFAULT_VERSIONS) -> DataFrame:
    """S1's logical plan: ts ∈ [start_time, end_time) + version limit."""
    ranged = cells.filter((F.col("ts") >= start_time) & (F.col("ts") < end_time))
    return version_limited(ranged, versions)


class SnapshotStore:
    """Export/import driver — the reference's Export/Import classes with
    the queue/worker/subprocess layers collapsed into Spark jobs.
    """

    def __init__(self, spark: SparkSession, catalog: Catalog, cluster_name: str = "local_cluster"):
        self.spark = spark
        self.catalog = catalog
        self.cluster_name = cluster_name

    # ---- S1 + C3: single-table export --------------------------------------
    def export_table(
        self,
        cells: DataFrame,
        table_name: str,
        dest_root: str,
        session_name: str,
        start_time: int = 0,
        end_time: int | None = None,
        versions: int = DEFAULT_VERSIONS,
        column_descriptors: list[dict] | None = None,
        resume: bool = False,
        max_retries: int = DEFAULT_MAX_RETRIES,
    ) -> bool:
        """Export one table's cells; returns True if data was written.

        Mirrors the worker path (lib/worker.rb:68-100):
        exists?-skip (C6, idempotent resume) → S1 scan-export → catalog
        row (C3). The write is the only Spark pass: it observes the row
        count, so an empty range (S6, hbase.rb:64-68) is found after the
        write, its directory deleted and the table recorded ``empty``
        (schema still captured). TRANSIENT failures (worker.rb:28-48's
        'release for retry') get up to ``max_retries`` in-place retries —
        partial output cleared, no catalog error row; permanent failures
        (or retry exhaustion) clear the partial output, are recorded
        (C3 error=true) and re-raised ('bury', export.rb:156-163). Empty
        ranges go through the same write, so they take the same retry
        and bury paths.
        """
        _require_versions(versions)
        if resume and self.catalog.exists(table_name, session_name, dest_root=dest_root):
            return False  # worker.rb:85-87: already recorded in this chain
        end_time = _now_ms() if end_time is None else end_time

        snap = scan_export(cells, start_time, end_time, versions)
        dest = snapshot_path(dest_root, session_name, table_name)
        existed = storage.exists(self.spark, dest)  # never delete what this call did not write
        attempt = 0
        while True:
            try:
                observed = self._write_snapshot(snap, dest)
                break
            except Exception as ex:  # noqa: BLE001
                if attempt < max_retries and is_transient_error(ex):
                    attempt += 1
                    storage.delete_path(self.spark, dest)  # clear partial output
                    self._write_log(
                        dest_root, session_name, table_name, "export_retry",
                        f"attempt={attempt} transient: {str(ex)[:200]}",
                    )
                    continue
                # permanent (or exhausted): clear partial output, record, re-raise
                if not existed:
                    try:
                        storage.delete_path(self.spark, dest)
                    except Exception:  # noqa: BLE001 — best-effort; the error row still lands
                        pass
                self.catalog.exported_table_info(
                    table_name, session_name, start_time, end_time, versions,
                    column_descriptors=column_descriptors, error=True, error_info=str(ex)[:500],
                    dest_root=dest_root,
                )
                self._write_log(dest_root, session_name, table_name, "export_failed", str(ex)[:500])
                raise
        empty = not observed["rows"]
        if empty:
            storage.delete_path(self.spark, dest)  # S6: an empty range keeps no directory
        self.catalog.exported_table_info(
            table_name, session_name, start_time, end_time, versions,
            column_descriptors=column_descriptors, empty=empty, dest_root=dest_root,
        )
        if empty:
            return False
        self._write_log(
            dest_root, session_name, table_name, "export_ok",
            f"start={start_time} end={end_time} versions={versions} "
            f"rows={observed['rows']} min_ts={observed['min_ts']} max_ts={observed['max_ts']}",
        )
        return True

    def _write_snapshot(self, snap: DataFrame, dest: str) -> dict:
        """The one side-effecting write — isolated so tests can inject
        transient failures and so retries re-run just this step. Returns
        the counts observed in the same pass: {rows, min_ts, max_ts}. A
        fresh Observation per call, since one can watch only one action."""
        obs = Observation()
        snap.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        ).write.mode("errorifexists").parquet(dest)
        return obs.get

    def _write_log(self, dest_root: str, session_name: str, table_name: str, status: str, detail: str) -> None:
        """S11 parity: job-log artifact beside the data
        (export.rb:162,168 writes <dest>/../<table>_export_log via S3);
        scheme-agnostic through the Hadoop FS layer."""
        path = os.path.join(dest_root, session_name, f"{table_name}_export_log.txt")
        try:
            storage.save_info(self.spark, path, f"{status}: {detail}\n")
        except Exception:  # noqa: BLE001 — log artifacts are best-effort
            pass

    # ---- Q1-Q4 analog: bounded multi-table driver pool ----------------------
    def _run_table_jobs(
        self,
        table_names: list[str],
        job,
        max_concurrent: int = 1,
        fail_fast: bool = False,
    ) -> dict:
        """Bounded per-table concurrency (VERDICT r9 #2) — the Spark
        analog of the reference's 4-16 worker processes pulling one
        table-job each off beanstalkd (README.textile:120-121,
        bin/hbacker_worker:17-29). Each Spark job already uses the
        whole cluster, but a small-table-heavy run (the reference's
        real workload: thousands of HBase tables) leaves the cluster
        idle between jobs when driven serially; a driver-side thread
        pool of ``max_concurrent`` overlaps them. Each worker thread
        tags its jobs with a per-table ``spark.scheduler.pool`` local
        property (thread-scoped in Spark), so a cluster running with
        ``spark.scheduler.mode=FAIR`` shares executors fairly across
        the in-flight tables instead of head-of-line blocking on the
        biggest one; under the default FIFO scheduler the property is
        inert and jobs simply interleave. Safe by construction: the
        catalog's fenced appends (bounded wait) serialize the metadata
        rows, and each table writes its own snapshot directory.

        ``max_concurrent<=1`` preserves the serial contract exactly:
        fail-fast at the first table error. With a pool, every
        submitted table runs to completion by default (each failure is
        recorded on its own catalog row by the per-table job — the
        reference's 'bury' path; one poisoned table must not strand
        the rest of the fleet), then the FIRST error in table order
        re-raises so the session brackets as errored. Returns
        {table: job result} for the tables that succeeded.

        ``fail_fast=True`` (ADVICE r10) flips the contract for runs
        where an error is likely SYSTEMIC (unreachable dest_root, bad
        credentials): the first observed failure cancels every
        not-yet-started table so a thousands-of-tables run surfaces
        the problem in one job's time, not the whole fleet's; tables
        already in flight still finish (their snapshot dirs and
        catalog rows stay consistent). Either way, any re-raised
        exception carries ``succeeded`` ({table: result} completed
        before the raise) and ``skipped`` (cancelled tables) so
        callers can resume the remainder instead of redoing the run.
        The attach is best-effort (ADVICE r11): an exception class
        defining ``__slots__`` rejects attribute assignment, and
        masking the original per-table error with an AttributeError
        inside the except handler would be strictly worse than losing
        the resume map.
        """

        def _attach_resume(ex: BaseException, succeeded: dict, skipped: list) -> None:
            try:
                ex.succeeded = succeeded
                ex.skipped = skipped
            except AttributeError:  # __slots__ exception: keep the original error
                pass

        results: dict = {}
        if max_concurrent <= 1:
            for t in table_names:
                try:
                    results[t] = job(t)
                except Exception as ex:
                    _attach_resume(
                        ex,
                        dict(results),  # resume map (ADVICE r10)
                        [n for n in table_names if n != t and n not in results],
                    )
                    raise
            return results
        import concurrent.futures as cf

        sc = self.spark.sparkContext

        def run(t: str):
            sc.setLocalProperty("spark.scheduler.pool", f"hbacker_{t}")
            try:
                return job(t)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)

        with cf.ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            futures = {t: pool.submit(run, t) for t in table_names}
            if fail_fast:
                done, pending = cf.wait(
                    futures.values(), return_when=cf.FIRST_EXCEPTION
                )
                if any(f.exception() for f in done if not f.cancelled()):
                    for f in pending:
                        f.cancel()  # in-flight tables still finish
        skipped = [t for t in table_names if futures[t].cancelled()]
        for t in table_names:
            if t not in skipped and futures[t].exception() is None:
                results[t] = futures[t].result()
        for t in table_names:
            if t in skipped:
                continue
            ex = futures[t].exception()
            if ex is not None:
                _attach_resume(ex, dict(results), skipped)  # resume map (ADVICE r10)
                raise ex
        return results

    # ---- S3 + C1/C2: multi-table export with session bracketing ------------
    def export_tables(
        self,
        tables: dict[str, DataFrame],
        dest_root: str,
        session_name: str,
        start_time: int = 0,
        end_time: int | None = None,
        versions: int = DEFAULT_VERSIONS,
        descriptors: dict[str, list[dict]] | None = None,
        resume: bool = False,
        max_concurrent: int = 1,
        fail_fast: bool = False,
    ) -> None:
        """Export#specified_tables (export.rb:68-97): C1 start_info →
        per-table export → C2 end_info, with error capture on the way out
        (import.rb:83-88 pattern). No queue/watermark layers — Spark's
        scheduler provides the backpressure the reference polled
        beanstalkd/`hadoop job -list` for (Q6/Q7). ``max_concurrent``
        overlaps up to that many table exports (the reference's 4-16
        workers; see :meth:`_run_table_jobs` for the concurrency and
        error contract); the default stays serial.
        """
        _require_versions(versions)  # before the session row lands
        end_time = _now_ms() if end_time is None else end_time
        self.catalog.start_info("export", self.cluster_name, session_name, dest_root, start_time, end_time)
        try:
            self._run_table_jobs(
                list(tables),
                lambda t: self.export_table(
                    tables[t], t, dest_root, session_name, start_time, end_time, versions,
                    column_descriptors=(descriptors or {}).get(t), resume=resume,
                ),
                max_concurrent=max_concurrent,
                fail_fast=fail_fast,
            )
        except Exception as ex:  # noqa: BLE001
            self.catalog.end_info(
                "export", self.cluster_name, session_name, dest_root, error=True, error_info=str(ex)[:500],
                wait=True,
            )
            raise
        self.catalog.end_info("export", self.cluster_name, session_name, dest_root, wait=True)

    # ---- S2/S4/S5: full-catalog export --------------------------------------
    def list_cells_tables(self, pattern: str | None = None) -> list[str]:
        """S4 (hbase.rb:53-56): names of all registered cells tables
        (temp views / catalog tables), optional LIKE-ish filter."""
        names = [t.name for t in self.spark.catalog.listTables()]
        if pattern is not None:
            import fnmatch

            names = [n for n in names if fnmatch.fnmatch(n, pattern)]
        return sorted(names)

    def table_schema_descriptors(self, table_name: str) -> list[dict]:
        """S5 (hbase.rb:46-48): captured schema as descriptor dicts."""
        from hbacker_spark.functions.util import schema_to_descriptors

        return schema_to_descriptors(self.spark.table(table_name).schema)

    def export_all_tables(
        self,
        dest_root: str,
        session_name: str,
        start_time: int = 0,
        end_time: int | None = None,
        versions: int = DEFAULT_VERSIONS,
        pattern: str | None = None,
        max_concurrent: int = 1,
    ) -> None:
        """S2 (export.rb:42-51): enumerate every registered table and fan
        out the per-table export, capturing each table's schema."""
        names = self.list_cells_tables(pattern)
        tables = {n: self.spark.table(n) for n in names}
        descriptors = {n: self.table_schema_descriptors(n) for n in names}
        # descriptor dicts carry name/type/nullable; map onto catalog rows
        cat_descriptors = {
            n: [{"name": d["name"], "compression": d["type"]} for d in ds] for n, ds in descriptors.items()
        }
        self.export_tables(
            tables, dest_root, session_name, start_time, end_time, versions, descriptors=cat_descriptors,
            max_concurrent=max_concurrent,
        )

    # ---- §2.B: incremental chain -------------------------------------------
    def export_incremental(
        self,
        tables: dict[str, DataFrame],
        dest_root: str,
        session_name: str,
        end_time: int | None = None,
        versions: int = DEFAULT_VERSIONS,
        descriptors: dict[str, list[dict]] | None = None,
        max_concurrent: int = 1,
        fail_fast: bool = False,
    ) -> None:
        """Next start = previous recorded end per table
        (docs/…HBASE-1684.txt:40-58); tables never exported start at 0
        (full export, mysql.rb:221-223)."""
        _require_versions(versions)  # before the session row lands
        end_time = _now_ms() if end_time is None else end_time
        # watermarks keyed to THIS destination's chain: a new dest_root
        # starts at 0 (full export) instead of inheriting another
        # chain's end_time and silently skipping older cells
        watermarks = {
            r["table_name"]: r["next_start_time"]
            for r in self.catalog.next_start_times(dest_root=dest_root)
        }
        self.catalog.start_info(
            "export", self.cluster_name, session_name, dest_root,
            min(watermarks.values(), default=0) or 0, end_time,
        )
        try:
            self._run_table_jobs(
                list(tables),
                lambda t: self.export_table(
                    tables[t], t, dest_root, session_name,
                    start_time=int(watermarks.get(t, 0)), end_time=end_time, versions=versions,
                    column_descriptors=(descriptors or {}).get(t),
                ),
                max_concurrent=max_concurrent,
                fail_fast=fail_fast,
            )
        except Exception as ex:  # noqa: BLE001
            self.catalog.end_info(
                "export", self.cluster_name, session_name, dest_root, error=True, error_info=str(ex)[:500],
                wait=True,
            )
            raise
        self.catalog.end_info("export", self.cluster_name, session_name, dest_root, wait=True)

    # ---- S8/S9 + C4: import -------------------------------------------------
    def import_table(
        self,
        table_name: str,
        source_root: str,
        export_session_name: str,
        import_session_name: str,
        restore_empty_tables: bool = False,
    ) -> DataFrame | None:
        """Import#table (import.rb:128-154): read the snapshot dir with
        the fixed cells schema (an empty table recreates schema-only,
        S7), record C4. The table's export row is the latest one in
        this chain's session (``source_root`` is the chain key: session
        names collide across chains). Returns the restored cells
        DataFrame (caller writes it wherever the target lives), or None
        for an empty-table record."""
        info = self.catalog.table_info(table_name, export_session_name, source_root)
        if info is None:
            raise ValueError(f"table {table_name!r} not recorded in export session {export_session_name!r}")
        if info["error"]:
            raise ValueError(
                f"table {table_name!r} recorded with error in export session "
                f"{export_session_name!r}: {info['error_info']}"
            )
        if info["empty"]:
            if restore_empty_tables:
                self.catalog.imported_table_info(table_name, import_session_name, empty=True, dest_root=source_root)
                return self.spark.createDataFrame([], CELLS_SCHEMA)  # S7: schema-only recreate
            return None
        df = self.spark.read.schema(CELLS_SCHEMA).parquet(
            snapshot_path(source_root, export_session_name, table_name)
        )
        self.catalog.imported_table_info(table_name, import_session_name, dest_root=source_root)
        return df

    def import_tables(
        self,
        source_root: str,
        export_session_name: str,
        import_session_name: str,
        requested: list[str] | None = None,
        pattern: str | None = None,
        restore_empty_tables: bool = False,
        max_concurrent: int = 1,
        fail_fast: bool = False,
    ) -> dict[str, DataFrame]:
        """Import#specified_tables (import.rb:46-90): resolve the exported
        list from the catalog (C5), validate requested ⊆ exported (S10 —
        reported via anti-join, not a loop), session-bracket the run.

        Table selection is ``requested`` XOR ``pattern`` (cli.rb:259's
        --tables / --pattern): an explicit list is subset-validated; a
        SQL LIKE pattern feeds C5's wildcard directly. ``max_concurrent``
        overlaps per-table imports (see :meth:`_run_table_jobs`).
        """
        if requested is not None and pattern is not None:
            raise ValueError("pass requested tables OR a pattern, not both (cli.rb:259)")
        exported = [
            r["table_name"]
            for r in self.catalog.table_names(export_session_name, source_root, pattern=pattern).collect()
        ]
        if requested is not None:
            missing = sorted(set(requested) - set(exported))  # S10 subset validation (import.rb:56-63)
            if missing:
                raise ValueError(f"tables not in backup session {export_session_name!r}: {missing}")
            selected = [t for t in exported if t in set(requested)]
        else:
            selected = exported
        self.catalog.start_info("import", self.cluster_name, import_session_name, source_root, 0, 0)
        try:
            results = self._run_table_jobs(
                selected,
                lambda t: self.import_table(
                    t, source_root, export_session_name, import_session_name,
                    restore_empty_tables=restore_empty_tables,
                ),
                max_concurrent=max_concurrent,
                fail_fast=fail_fast,
            )
        except Exception as ex:  # noqa: BLE001
            self.catalog.end_info(
                "import", self.cluster_name, import_session_name, source_root, error=True, error_info=str(ex)[:500],
                wait=True,
            )
            raise
        self.catalog.end_info("import", self.cluster_name, import_session_name, source_root, wait=True)
        return {t: df for t, df in results.items() if df is not None}

    # ---- §2.B: point-in-time restore ----------------------------------------
    def restore_point_in_time(
        self,
        table_name: str,
        dest_root: str,
        session_names: list[str] | None = None,
        *,
        cutoff_ts: int,
        max_versions: int = 1,
    ) -> DataFrame:
        """Replay full export + increments, drop cells newer than the
        cutoff, latest-version-wins per cell (docs/…HBASE-1684.txt:63-72,
        94-97). Deletes cannot be resurrected — append-only snapshots
        (README.textile:9).

        ``cutoff_ts`` is keyword-only and REQUIRED (ADVICE r8): a
        defaulted cutoff of 0 turned an omitted argument into
        ``filter(ts <= 0)`` — a silently empty restore on the
        explicit-session path, which the loud 'nothing to restore'
        guard below never sees. A non-positive cutoff is rejected for
        the same reason (cell timestamps are epoch-ms > 0).

        When ``session_names`` is None (the production path, VERDICT r7
        #2) the MINIMAL session set is derived from the catalog:
        sessions in this dest_root chain whose recorded export range
        for this table starts at or before the cutoff. An increment
        whose whole range begins after the cutoff contributes zero rows
        — on a 1000-increment chain this is the difference between
        scanning every snapshot dir ever written and scanning only the
        prefix that can matter; the plan's input file set provably
        excludes the pruned dirs (tests/test_snapshots.py). A session
        that errored on a LATER table still contributes this table's
        committed increments (ADVICE r8 — the clean table row proves
        the dir exists). The catalog lookup runs on the driver over
        metadata-sized rows and launches no Spark job. Passing an
        explicit list keeps the caller in full control (e.g. restoring
        from a foreign catalog-less dump).

        Scale shape (VERDICT r8 #3): all session dirs feed ONE
        multi-path parquet scan — ``read.parquet(*paths)`` — instead of
        an N-way unionByName, so the plan is a single scan node and
        analysis cost is O(1) in chain length (a 1000-increment chain
        previously paid per-session plan-analysis; measured in
        SCALE_NOTES.md).

        The cutoff is bound by reference, not inlined into generated
        code (``_at_or_before``): restores at different cutoffs share
        one compiled class instead of compiling and JIT-warming their
        own. The trade-off is that the cutoff no longer prunes parquet
        row groups. That costs nothing on the catalog path: each
        snapshot is written in cell-key order, so its row groups span
        the session's whole ``ts`` range, and sessions starting after
        the cutoff are already dropped. With an explicit
        ``session_names`` list, sessions after the cutoff are now read
        and filtered rather than skipped; the result is the same.
        """
        if cutoff_ts <= 0:
            raise ValueError(
                f"cutoff_ts must be a positive epoch-ms timestamp, got "
                f"{cutoff_ts} — a restore at or before 0 selects nothing"
            )
        if max_versions < 1:
            raise ValueError(
                f"max_versions must be >= 1, got {max_versions} — a restore keeping no version is empty"
            )
        if session_names is None:
            session_names = [
                r["session_name"]
                for r in self.catalog.restore_sessions(table_name, dest_root, cutoff_ts)
            ]
            if not session_names:
                raise ValueError(
                    f"no catalog session in chain {dest_root!r} exports "
                    f"{table_name!r} at or before cutoff {cutoff_ts} — "
                    f"nothing to restore"
                )
        paths = [snapshot_path(dest_root, s, table_name) for s in session_names]
        unioned = self.spark.read.schema(CELLS_SCHEMA).parquet(*paths)
        return version_limited(unioned.filter(_at_or_before(cutoff_ts)), max_versions)
