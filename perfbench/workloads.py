"""The benchmark workloads.

``BENCHMARK.json`` lists ``backup_chain`` and ``analytics_mix``;
``catalog_fleet`` runs by name (``--workload catalog_fleet``) but is left
out there to keep a full benchmark pass short: one fleet run takes
about 50 s on a 4-core host.

All are closed loops with one client: the next operation starts when
the previous one returns. The only extra threads are the package's own
export/import pool, bounded to ``nproc``. Every input, restore cutoff
and query order is drawn from the run's seed.

- ``backup_chain``: a few cells tables get a full ``export_incremental``
  session, then incremental sessions after new cells are appended to the
  source, with seeded point-in-time restores after every session. Each
  restore is materialised by its checksum (the action) and compared with
  ground truth computed from the generated source. Imports are left to
  ``catalog_fleet``: the restores get the run's time instead, so their
  median rests on a dozen samples.
- ``catalog_fleet``: many tiny cells tables exported in one session with
  ``max_concurrent=nproc``, then imported with ``import_tables``; each
  returned DataFrame is written to a restore target and checked.
- ``analytics_mix``: rounds over twelve registered queries in seeded
  order, sent to the ``noop`` sink; each query is checked once against
  its DuckDB oracle before timing starts.

A workload counts its operations in ``Op`` records, each with its wall
time and the CPU time of the whole process tree; the end-to-end figures
come from the untraced ones. Per-op end-to-end figures are CPU time: on
a shared 4-vCPU host, hypervisor steal of 5-20% moved the wall-time
median of the same code by 20-30% between sets of runs, and CPU time,
which leaves stolen time out, by 2-7%. The wall-time figures are
per-layer (``workload.*``). In a traced run every second
operation of a kind (of a query, over twice the rounds, on
``analytics_mix``) runs with the :class:`tracing.Tracer` installed, so
the same run yields both the per-layer spans and the tracing overhead.

``--seconds`` sets the amount of measured work, not a deadline: a run
does ``round(seconds / unit_s)`` whole units (at least one), where
``unit_s`` is the unit's length on a 4-core host. A fixed unit count
keeps the op mix and the sample count the same on every run; a
deadline made them flip with the host's speed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
import zlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import checks
import inputs
from harness import Clock, log, median, peak_rss_mb, quantile, tree_cpu_s

CELL_COLS = ("row_key", "cf", "qualifier", "ts", "value")

QUERIES = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "q21_sole_returner",
    "minhash_lsh_candidates",
    "dedup_cluster_resolution",
    "ann_ivf_cosine_topk",
    "pipeline_clean_corpus",
    "copurchase_pagerank",
    "tfidf_top_terms",
    "s1_version_limited_scan",
    "pitr_latest_state",
)

SETUP_REPS = 3
# recorded with every exported table, as the reference does for each
# HBase column family (catalog C8 rows)
COLUMN_FAMILIES = [{"name": cf, "compression": "NONE", "max_versions": 3, "versions": 3} for cf in inputs.CFS]


@dataclass
class Op:
    kind: str
    seconds: float
    items: float
    traced: bool
    ok: bool = True
    cpu: float = 0.0  # CPU seconds of the whole process tree during the op


@dataclass(frozen=True)
class Size:
    """Input sizes; ``FULL`` is the benchmark, ``TINY`` the self-test."""

    chain_tables: int
    chain_rows: int
    chain_full_cells: int
    chain_incr_cells: int
    chain_incrementals: int
    restores_per_session: int
    fleet_tables: int
    fleet_cells: int
    star_scale: float


# backup_chain: on a 4-core host an export session costs about 2 s whatever
# its size, three 100k-cell full batches add about 3 s of scan and write,
# and a restore takes about 1.2 s; twelve restores fit one run.
FULL = Size(3, 20_000, 100_000, 10_000, 2, 4, 16, 200, 0.002)
TINY = Size(2, 200, 1_000, 200, 1, 2, 4, 50, 0.0005)


class Workload:
    name = ""
    unit_s = 1.0  # length of one unit of work on a 4-core host

    def __init__(self, spark, work: Path, seed: int, nproc: int, size: Size, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.size = size
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, zlib.crc32(self.name.encode())])
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0
        self.setup_reps: list[float] = []
        self.warmup_s = 0.0
        self._parity: dict[str, int] = {}

    # ---- op accounting --------------------------------------------------
    def op(self, kind: str, fn, items: float = 1.0, key: str | None = None):
        """Run one timed operation; returns its result or None on failure.
        ``items`` is the work it completes (cells, for exports). In a
        traced run, ops sharing ``key`` (default: the kind) alternate
        traced/untraced, the first traced so one-off ops still get spans."""
        traced = False
        if self.tracer is not None and kind != "warm":
            key = key or kind
            n = self._parity.get(key, 0)
            self._parity[key] = n + 1
            traced = n % 2 == 0
        self.attempted += 1
        rec = Op(kind, 0.0, items, traced)
        c0 = tree_cpu_s()
        try:
            if traced:
                with self.tracer.installed(), self.tracer.op_span(kind):
                    out, rec.seconds = _timed(fn)
            else:
                out, rec.seconds = _timed(fn)
        except Exception:  # noqa: BLE001 - an op failure is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            rec.ok = False
            self.ops.append(rec)
            return None
        rec.cpu = tree_cpu_s() - c0
        self.ops.append(rec)
        log(f"{kind}{' (traced)' if traced else ''}: {rec.seconds:.3f} s, cpu {rec.cpu:.2f} s")
        return out

    def fail(self, what: str) -> None:
        """A correctness mismatch: the op that produced it counts as failed."""
        print(f"[{self.name}] check failed: {what}", file=sys.stderr)
        self.failed += 1
        for rec in reversed(self.ops):
            if rec.ok:
                rec.ok = False
                break

    def check(self, what: str, got, want) -> None:
        if got != want:
            self.fail(f"{what}: got {got}, want {want}")

    def spans(self, name: str) -> list:
        return [sp for sp in self.tracer.spans if sp.name == name] if self.tracer else []

    def untraced(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds and o.ok and not o.traced]

    def done(self, *kinds: str) -> list[Op]:
        """Completed ops of ``kinds``, traced or not (per-layer figures)."""
        return [o for o in self.ops if o.kind in kinds and o.ok]

    # ---- lifecycle ------------------------------------------------------
    def setup(self) -> None:
        for rep in range(SETUP_REPS):
            clock = Clock()
            self.setup_once(rep)
            self.setup_reps.append(clock.elapsed())
            log(f"setup rep {rep}: {self.setup_reps[-1]:.2f} s")
        clock = Clock()
        self.warmup()
        self.warmup_s = clock.elapsed()
        log(f"warmup: {self.warmup_s:.2f} s")

    def setup_once(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> None:
        """Whole units of work (a chain, a fleet cycle, a query round)."""
        for n in range(self.units(seconds)):
            clock = Clock()
            self.unit(n)
            log(f"unit {n}: {clock.elapsed():.2f} s")

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.unit_s))

    def unit(self, n: int) -> None:
        raise NotImplementedError

    def workload_metrics(self) -> dict[str, float]:
        """Wall-time twins of the end-to-end figures, from the untraced ops."""
        done = self.measured()
        busy = sum(o.seconds for o in done)
        return {"workload.ops_per_s": len(done) / busy if busy else 0.0}

    # ---- results --------------------------------------------------------
    def latency_kinds(self) -> tuple[str, ...]:
        raise NotImplementedError

    def latency_cpu_s(self) -> list[float]:
        """The samples behind ``op_cpu_ms_p50``: untraced latency ops."""
        return [o.cpu for o in self.untraced(*self.latency_kinds())]

    def measured(self) -> list[Op]:
        """Completed, untraced, timed ops."""
        return [o for o in self.ops if o.ok and not o.traced and o.kind != "warm"]

    def end_to_end(self, session_start_s: float) -> dict[str, float]:
        """Set-up is wall time; the per-op figures are CPU time, which host
        steal does not inflate (wall-time twins: ``workload.*`` per-layer)."""
        done = self.measured()
        return {
            "setup_s": session_start_s + median(self.setup_reps) + self.warmup_s,
            "cpu_ms_per_op": 1000.0 * sum(o.cpu for o in done) / len(done) if done else 0.0,
            "op_cpu_ms_p50": 1000.0 * median(self.latency_cpu_s()),
            "op_success_ratio": (self.attempted - self.failed) / self.attempted if self.attempted else 0.0,
            "peak_rss_mb": peak_rss_mb(),
        }

    def tracing_overhead_ms(self) -> float:
        """Median traced op minus median untraced op, latency ops only."""
        kinds = self.latency_kinds()
        traced = [o.seconds for o in self.ops if o.kind in kinds and o.ok and o.traced]
        plain = [o.seconds for o in self.untraced(*kinds)]
        if not traced or not plain:
            return 0.0
        return (median(traced) - median(plain)) * 1000.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def catalog_growth(spark, root: str) -> dict[str, float]:
    """Data files and rows in the current version of each catalog table."""
    import pyarrow.parquet as pq

    from hbacker_spark.sources import storage

    out: dict[str, float] = {}
    for table in ("sessions", "tables", "column_descriptors"):
        files = rows = 0
        path = storage.join_path(root, table)
        if storage.exists(spark, path):
            data = storage.resolve_data_dir(spark, path)
            for e in storage.list_path(spark, data):
                if e["name"].endswith(".parquet") and not e["name"].startswith((".", "_")):
                    files += 1
                    rows += pq.read_metadata(os.path.join(data, e["name"])).num_rows
        out[f"catalog.{table}.data_files_end"] = float(files)
        out[f"catalog.{table}.rows_end"] = float(rows)
    return out


class _CellsWorkload(Workload):
    """Shared plumbing of the two snapshot workloads."""

    export_kinds: tuple[str, ...] = ()

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from hbacker_spark.catalog.catalog import Catalog
        from hbacker_spark.operators.snapshots import SnapshotStore

        self.catalog_root = str(self.work / "catalog")
        self.store = SnapshotStore(self.spark, Catalog(self.spark, self.catalog_root))
        self._warm_store = SnapshotStore(self.spark, Catalog(self.spark, str(self.work / "warm_catalog")))
        self.sources: list[list[inputs.CellsTable]] = []

    def source_df(self, table: inputs.CellsTable):
        from hbacker_spark.operators.snapshots import CELLS_SCHEMA

        return self.spark.read.schema(CELLS_SCHEMA).parquet(table.path)

    def new_tables(self, where: Path, n: int, rows: int, cells: int, prefix: str) -> list[inputs.CellsTable]:
        tables = []
        for i in range(n):
            t = inputs.CellsTable(f"{prefix}{i:03d}", str(where / f"{prefix}{i:03d}"), rows, self.rng)
            t.append_batch(cells)
            tables.append(t)
        return tables

    def add_sources(self, where: Path, n: int, rows: int, cells: int, prefix: str) -> None:
        self.sources.append(self.new_tables(where, n, rows, cells, prefix))

    def export(self, store, tables, dest: str, session: str, batch: int, kind: str) -> bool:
        dfs = {t.name: self.source_df(t) for t in tables}
        cells = sum(t.batch_cells(batch) for t in tables)
        self.op(kind, lambda: store.export_incremental(
            dfs, dest, session, end_time=inputs.batch_end_ts(batch), max_concurrent=self.nproc,
            descriptors={t.name: COLUMN_FAMILIES for t in tables},
        ), items=cells)
        return self.ops[-1].ok

    def import_and_check(self, store, tables, dest: str, session: str, tag: str, measure: bool) -> None:
        """``import_tables`` on one export session, write every returned
        DataFrame to a restore target, then check each target against the
        table's first batch (what a full export captured)."""
        kind = (lambda k: k) if measure else (lambda _k: "warm")
        imported = self.op(kind("import"), lambda: store.import_tables(
            dest, session, f"{tag}_import", max_concurrent=self.nproc,
        ))
        if imported is None:
            return
        self.check(f"{tag} imported tables", sorted(imported), sorted(t.name for t in tables))
        target = Path(dest + "_restored")
        for name in sorted(imported):
            self.op(kind("import_write"), lambda df=imported[name], p=str(target / name): self._write(df, p))
        self._verify(tables, target)

    def _write(self, df, path: str) -> None:
        if self.tracer is not None and self.tracer.active:
            with self.tracer.span("snapshots.import_write"):
                df.write.parquet(path)
        else:
            df.write.parquet(path)

    def _verify(self, tables, target: Path) -> None:
        """All restore targets in one job: per-table checksum vs source."""
        from pyspark.sql import functions as F

        from hbacker_spark.operators.snapshots import CELLS_SCHEMA

        paths = [str(target / t.name) for t in tables if (target / t.name).exists()]
        if not paths:
            return
        df = self.spark.read.schema(CELLS_SCHEMA).parquet(*paths).withColumn(
            "_t", F.element_at(F.split(F.input_file_name(), "/"), -2)
        )
        got = checks.checksums_by(df, "_t", CELL_COLS)
        for t in tables:
            self.check(f"import {t.name}", got.get(t.name), t.batch_truth(0))

    def workload_metrics(self) -> dict[str, float]:
        exp = self.done(*self.export_kinds)
        imp = self.done("import", "import_write")
        exp_s = sum(o.seconds for o in exp)
        imp_s = sum(o.seconds for o in imp)
        tables = len(self.sources[0]) if self.sources else 0
        m = {**super().workload_metrics(), **catalog_growth(self.spark, self.catalog_root)}
        m["workload.export_tables_per_s"] = tables * len(exp) / exp_s if exp_s else 0.0
        m["workload.import_tables_per_s"] = sum(1 for o in imp if o.kind == "import_write") / imp_s if imp_s else 0.0
        return m


class BackupChain(_CellsWorkload):
    name = "backup_chain"
    unit_s = 26.0  # one chain
    export_kinds = ("export_full", "export_incr")

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.bytes_ratio: list[float] = []
        self.rows_ratio: list[float] = []
        self.files_read: list[float] = []

    def latency_kinds(self) -> tuple[str, ...]:
        return ("restore",)

    def setup_once(self, rep: int) -> None:
        s = self.size
        self.add_sources(self.work / "src" / f"c{rep:03d}", s.chain_tables, s.chain_rows, s.chain_full_cells, "t")

    def warmup(self) -> None:
        """A chain on tables of the measured size, so the JIT has compiled
        the data path before timing starts; with tiny tables the CPU per
        restore still fell by a third over the measured chain."""
        s = self.size
        tables = self.new_tables(self.work / "src" / "warm", s.chain_tables, s.chain_rows, s.chain_full_cells, "w")
        self._chain(self._warm_store, tables, str(self.work / "warm_chain"), "warm", measure=False)

    def unit(self, n: int) -> None:
        if n >= len(self.sources):
            s = self.size
            self.add_sources(self.work / "src" / f"c{n:03d}", s.chain_tables, s.chain_rows, s.chain_full_cells, "t")
        self._chain(self.store, self.sources[n], str(self.work / "chains" / f"c{n:03d}"), f"c{n:03d}", measure=True)

    def _chain(self, store, tables, chain: str, tag: str, measure: bool) -> None:
        """One chain: full export, then incrementals, with seeded
        restores after every session.

        After session ``k`` restore ``j`` of ``m`` takes its table in
        turn and a seeded cutoff in the ``j``-th of ``m`` equal slices of
        the chain so far: every run restores the same mix of chain
        depths, only the exact cutoffs vary with the seed."""
        incrementals = self.size.chain_incrementals if measure else 1
        restores = self.size.restores_per_session if measure else 2
        for k in range(incrementals + 1):
            if k > 0:
                for t in tables:
                    t.append_batch(self.size.chain_incr_cells)
            kind = ("export_full" if k == 0 else "export_incr") if measure else "warm"
            if not self.export(store, tables, chain, f"{tag}_{k:02d}", k, kind):
                return
            width = (k + 1) * inputs.BATCH_SPAN_MS // restores
            for j in range(restores):
                t = tables[(k + j) % len(tables)]
                cutoff = inputs.TS_BASE + j * width + int(self.rng.integers(1, width + 1))
                self._restore(store, t, chain, cutoff, k, measure)
        if measure:
            src = sum(t.source_bytes for t in tables)
            self.bytes_ratio.append(_tree_bytes(chain) / src if src else 0.0)

    def _restore(self, store, t: inputs.CellsTable, chain: str, cutoff: int, last_batch: int, measure: bool) -> None:
        state = {}

        def restore():
            df = state["df"] = store.restore_point_in_time(t.name, chain, cutoff_ts=cutoff)
            if self.tracer is not None and self.tracer.active:
                with self.tracer.span("snapshots.restore_exec"):
                    return checks.checksum(df, CELL_COLS)
            return checks.checksum(df, CELL_COLS)

        got = self.op("restore" if measure else "warm", restore)
        if got is None:
            return
        self.check(f"restore {t.name} @ {cutoff}", got, t.truth(cutoff))
        if self.ops[-1].traced:
            # listed after the timed op, so traced and untraced restores do the same work
            self.files_read.append(len(state["df"].inputFiles()))
            # rows the scan reads: every cell of each session whose range starts at or before the cutoff
            read = sum(t.batch_cells(b) for b in range(last_batch + 1) if b == 0 or inputs.batch_end_ts(b - 1) <= cutoff)
            self.rows_ratio.append(got[0] / read if read else 0.0)

    def workload_metrics(self) -> dict[str, float]:
        full = self.done("export_full")
        incr = [o.seconds for o in self.done("export_incr")]
        restores = [o.seconds for o in self.done("restore")]
        full_s = sum(o.seconds for o in full)
        m = super().workload_metrics()
        m.update(
            {
                "workload.full_export_cells_per_s": sum(o.items for o in full) / full_s if full_s else 0.0,
                "workload.incr_export_s_p50": median(incr),
                "workload.restore_s_p50": quantile(restores, 0.5),
                "workload.restore_s_p75": quantile(restores, 0.75),
                "workload.restores": float(len(restores)),
                "workload.backup_bytes_per_source_byte": median(self.bytes_ratio),
                "snapshots.restore_exec_s_p50": median([sp.dur for sp in self.spans("snapshots.restore_exec")]),
                "snapshots.restore_files_read_p50": median(self.files_read),
                "snapshots.restore_rows_returned_per_row_read": median(self.rows_ratio),
            }
        )
        return m


class CatalogFleet(_CellsWorkload):
    """Many tiny tables; runnable by name, not listed in BENCHMARK.json
    (see the module docstring)."""

    name = "catalog_fleet"
    unit_s = 20.0  # one export + import cycle of 16 tables
    export_kinds = ("fleet_export",)

    def latency_kinds(self) -> tuple[str, ...]:
        return ("import_write",)

    def setup_once(self, rep: int) -> None:
        s = self.size
        self.add_sources(self.work / "fleet_src" / f"s{rep}", s.fleet_tables, 20, s.fleet_cells, f"f{rep}_")

    def warmup(self) -> None:
        tables = self.new_tables(self.work / "fleet_src" / "warm", 2, 10, 50, "w")
        self._cycle(self._warm_store, tables, str(self.work / "warm_fleet"), "warm", measure=False)

    def unit(self, n: int) -> None:
        tables = self.sources[n % len(self.sources)]
        self._cycle(self.store, tables, str(self.work / "fleet" / f"c{n:03d}"), f"c{n:03d}", measure=True)

    def _cycle(self, store, tables, dest: str, tag: str, measure: bool) -> None:
        if self.export(store, tables, dest, f"{tag}_e", 0, "fleet_export" if measure else "warm"):
            self.import_and_check(store, tables, dest, f"{tag}_e", tag, measure)


class AnalyticsMix(Workload):
    name = "analytics_mix"
    unit_s = 12.0  # one round of the twelve queries

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from hbacker_spark.registry import load_all_queries

        self.specs = load_all_queries()
        self.data_dir = ""
        self.rounds: list[float] = []  # CPU seconds of each untraced, fully ok round
        # traced runs: half of the queries are traced in even rounds, the
        # other half in odd ones
        self._parity.update({q: i % 2 for i, q in enumerate(QUERIES)})

    def latency_kinds(self) -> tuple[str, ...]:
        return ("query",)

    def setup_once(self, rep: int) -> None:
        out = str(self.work / "star" / f"r{rep}")
        rng = np.random.default_rng([self.seed, 7])  # same data every rep
        inputs.write_star_schema(out, rng, self.size.star_scale)
        if rep == 0:
            self.data_dir = out

    def warmup(self) -> None:
        """The once-per-run oracle check, which also runs every query
        once cold."""
        self._oracle_round()

    def _oracle_round(self) -> None:
        sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
        from tests.oracle_harness import compare

        for name in self.rng.permutation(QUERIES).tolist():
            spec = self.specs[name]
            self.attempted += 1
            try:
                problems = compare(spec.fn(self.spark, self.data_dir), spec.oracle, self.data_dir)
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                problems = ["raised"]
            if problems:
                self.failed += 1
                print(f"[{self.name}] oracle mismatch {name}: {problems}", file=sys.stderr)

    def units(self, seconds: float) -> int:
        """A traced run doubles the rounds so each query runs as often
        with the tracer as without (see ``__init__``)."""
        n = super().units(seconds)
        return 2 * n if self.tracer is not None else n

    def unit(self, n: int) -> None:
        first = len(self.ops)
        for name in self.rng.permutation(QUERIES).tolist():
            self.op("query", lambda q=name: self._query(q), key=name)
        done = self.ops[first:]
        if all(o.ok and not o.traced for o in done):
            self.rounds.append(sum(o.cpu for o in done))

    def latency_cpu_s(self) -> list[float]:
        """A round of the twelve queries is the latency op: the queries'
        own costs differ tenfold, so a median over them jumps between
        queries from run to run."""
        return self.rounds

    def _query(self, name: str) -> None:
        fn = self.specs[name].fn
        if self.tracer is not None and self.tracer.active:
            with self.tracer.span(f"queries.{name}"):
                fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        else:
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()

    def workload_metrics(self) -> dict[str, float]:
        q = self.done("query")
        busy = sum(o.seconds for o in q)
        m = {**super().workload_metrics(), "workload.analytics_queries_per_min": 60.0 * len(q) / busy if busy else 0.0}
        for name in QUERIES:
            spans = self.spans(f"queries.{name}")
            m[f"queries.{name}_s_p50"] = median([sp.dur for sp in spans])
            m[f"queries.{name}_spark_tasks"] = median([float(sp.tasks) for sp in spans])
        return m


WORKLOADS = {w.name: w for w in (BackupChain, CatalogFleet, AnalyticsMix)}


def cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
