"""Relational metadata catalog — the reference's 3-table MySQL catalog
(sessions → tables → column descriptors) as Parquet tables answered on
the driver.

Reference model (SURVEY.md §1.2; lib/hbacker/mysql.rb:12-102):

- ``hbacker_sessions``  — one row per export/import run (C1/C2/C9)
- ``hbase_tables``      — one row per table per session (C3/C4/C5/C6/C7)
- ``column_descriptors``— one row per column family (C8)

Design choices vs the reference:
- mode is a column (like the MySQL variant, mysql.rb:31), not a domain
  name prefix (the SimpleDB variant, db.rb.old:309-447).
- ``ended_at`` is nullable instead of the epoch-0 sentinel
  (db.rb.old:325) — NULL means "still running".
- C2's in-place UPDATE becomes a read-modify-overwrite published as a
  new VERSIONED directory (r11; storage.commit_version): writers write
  ``v000017/`` and publish it with one commit-marker create, readers
  resolve the highest committed version with one listing and read
  files that are never deleted until a newer version has committed —
  wait-free reads on every scheme, no delete-then-rename window. The
  single-writer contract (like the reference's single master;
  export.rb:96) is ENFORCED by a lockfile fence spanning the read and
  the commit: a racing second writer raises CatalogContentionError
  instead of silently losing an update. Plain appends take the same
  fence (bounded wait) so a row insert can't vanish under a concurrent
  swap (ADVICE r8). The reference's 10x3s retry loop
  (mysql.rb:250-256) survives as the OPT-IN bounded wait
  (``end_info(wait=True)``, FENCE_WAIT_S) for fleet deployments;
  read-after-write consistency itself needs no retry — Parquet reads
  from one driver are consistent.
- Every lookup and rewrite runs in plain Python on the driver. The
  catalog holds metadata-sized rows, so a Spark job per lookup would be
  all overhead: reads stream the committed version's pinned files
  through the Hadoop FS and decode them with pyarrow into Python rows
  (naive-UTC datetimes, NULL for columns legacy files lack); writes
  encode rows with pyarrow the same way. The public C5/C7/C9/C10 API
  and :meth:`Catalog.read` still return DataFrames — one
  ``createDataFrame`` over an Arrow table of the Python answer, which
  launches no job — for the CLI and the catalog queries. Each read
  still lists the current version and its files, but decodes only the
  files it has not decoded before: rows are cached per table by (version
  dir, file name), and committed file names are uuid-unique and never
  rewritten.
- ALL filesystem mutation goes through the Hadoop FileSystem API
  (VERDICT r9 #1), never ``os``/``shutil``: the reference's catalog
  was network-reachable from every worker by design (MySQL,
  mysql.rb:107-139), so ours must accept an ``hdfs://``/``s3a://``/
  ``viewfs://`` root, not just the driver host's POSIX disk. The
  fence is ``FileSystem.createNewFile`` — atomic on local and HDFS.
  S3A CAVEAT, narrowed in r11 and again in r12: READS are safe on
  object stores — the commit marker is a single new-key PUT (atomic
  in visibility under S3's strong read-after-write consistency), so
  readers always see a whole committed version, never a torn or
  missing one. The WRITER fence is atomic too wherever the store
  advertises Hadoop 3.4.1+ conditional create (If-None-Match PUT;
  storage.create_new_file_ex probes the capability) — on such stores
  there is no advisory seam left at all. On stores WITHOUT the
  capability the fence stays advisory (one-time RuntimeWarning), but
  a double-write is no longer last-version-wins: every rewrite pins
  its (parent version, file set) snapshot and reconciles at commit —
  concurrent commits and concurrently-appended files fold back in,
  the merge is stamped into the commit marker, and appends re-land
  when they observe a swap (zero lost rows in the fence-disabled
  race tests; residual risk is bounded staleness during the fold,
  not loss).

At scale the catalog is millions of rows at most (one per table per
session); payload data never flows through it.
"""

from __future__ import annotations

import re
import uuid
import warnings
from collections import Counter
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hbacker_spark.sources import storage


class CatalogContentionError(RuntimeError):
    """Two writers raced a catalog read-modify-swap (single-writer
    contract violated); the loser raises instead of silently dropping
    the winner's update."""


# Bounded fence wait (VERDICT r8 #5): the reference retries its catalog
# read-after-write up to 10 x 3s (mysql.rb:250-256); we mirror the same
# ceiling for writers that opt into waiting out a contended fence
# (end_info(wait=True)) and for plain appends, which always wait — an
# export fleet's start_info/exported_table_info rows must not crash on a
# momentary swap. Sleep-poll, never busy-wait.
FENCE_WAIT_S = 30.0
FENCE_POLL_S = 0.25
# Plain APPENDS get a far larger bound (r10): a max_concurrent pool's
# row inserts QUEUE on the fence, and a long fleet queue measured past
# the 30s bound. Unlike a read-modify-swap, a waiting append can never
# base itself on stale state — waiting longer is strictly safe, and
# crashing a fleet export because the metadata lock queue ran long is
# the worse failure. Swaps keep the tight bound; appends wait out the
# queue.
APPEND_FENCE_WAIT_S = 300.0
# Advisory-fence reconciliation budget (r14, VERDICT r13 #1): how many
# fold rounds an append/rewrite gets before raising the (lossless, loud)
# CatalogContentionError. 5 is plenty when writers are serialized or the
# fence is real; a fence-DISABLED writer pair on a loaded host can
# legitimately need more rounds because a slow appender trickles one
# new file into every round. Read at call time so tests/deployments can
# widen the budget without widening the default contract.
RECONCILE_ROUNDS_DEFAULT = 5


def _reconcile_rounds() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_RECONCILE_ROUNDS", RECONCILE_ROUNDS_DEFAULT))

SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("mode", T.StringType(), False),  # export | import
        T.StructField("cluster_name", T.StringType(), False),
        T.StructField("session_name", T.StringType(), False),
        T.StructField("dest_root", T.StringType(), False),
        T.StructField("specified_start", T.LongType(), True),  # epoch-ms; 0 = full
        T.StructField("specified_end", T.LongType(), True),
        T.StructField("started_at", T.TimestampType(), True),
        T.StructField("ended_at", T.TimestampType(), True),  # NULL = running
        T.StructField("error", T.BooleanType(), True),
        T.StructField("error_info", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

TABLES_SCHEMA = T.StructType(
    [
        T.StructField("mode", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("session_name", T.StringType(), False),
        # chain key (ADVICE r8): session_name alone is minted at second
        # granularity (mint_session_name), so two chains exporting in
        # the same second collide on a session_name-only join. Table
        # rows record their chain's dest_root so every chain lookup
        # keys on the composite; NULL on rows written by older catalogs
        # (those fall back to the session join, see _in_chain).
        T.StructField("dest_root", T.StringType(), True),
        T.StructField("start_time", T.LongType(), True),
        T.StructField("end_time", T.LongType(), True),
        T.StructField("specified_versions", T.LongType(), True),
        T.StructField("empty", T.BooleanType(), True),
        T.StructField("error", T.BooleanType(), True),
        T.StructField("error_info", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

# Column-family descriptor attrs — the whitelist in the reference
# (ColumnDescriptor::AVAILABLE_OPTS, lib/hbacker/stargate.rb:36-44;
# mysql.rb:75-102).
DESCRIPTOR_ATTRS = (
    "blockcache",
    "blocksize",
    "bloomfilter",
    "compression",
    "block_cache",
    "max_versions",
    "in_memory",
    "versions",
    "length",
    "ttl",
)

DESCRIPTORS_SCHEMA = T.StructType(
    [
        T.StructField("mode", T.StringType(), False),
        T.StructField("session_name", T.StringType(), False),
        T.StructField("table_name", T.StringType(), False),
        T.StructField("name", T.StringType(), False),  # column family name
        T.StructField("blockcache", T.StringType(), True),
        T.StructField("blocksize", T.LongType(), True),
        T.StructField("bloomfilter", T.StringType(), True),
        T.StructField("compression", T.StringType(), True),
        T.StructField("block_cache", T.BooleanType(), True),
        T.StructField("max_versions", T.LongType(), True),
        T.StructField("in_memory", T.BooleanType(), True),
        T.StructField("versions", T.LongType(), True),
        T.StructField("length", T.LongType(), True),
        T.StructField("ttl", T.LongType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
    ]
)

_TABLES = {
    "sessions": SESSIONS_SCHEMA,
    "tables": TABLES_SCHEMA,
    "column_descriptors": DESCRIPTORS_SCHEMA,
}

# C5's answer and C10's session → table left join, as frames
_NAMES_SCHEMA = T.StructType([T.StructField("table_name", T.StringType(), False)])
_REPORT_COLS = (
    ("session_name", "s", "session_name"),
    ("cluster_name", "s", "cluster_name"),
    ("dest_root", "s", "dest_root"),
    ("started_at", "s", "started_at"),
    ("ended_at", "s", "ended_at"),
    ("session_error", "s", "error"),
    ("table_name", "t", "table_name"),
    ("start_time", "t", "start_time"),
    ("end_time", "t", "end_time"),
    ("empty", "t", "empty"),
    ("table_error", "t", "error"),
)
_REPORT_SCHEMA = T.StructType(
    [
        T.StructField(alias, (SESSIONS_SCHEMA if side == "s" else TABLES_SCHEMA)[col].dataType, True)
        for alias, side, col in _REPORT_COLS
    ]
)

# Commit-reconciliation merge keys (VERDICT r11 #3). ``tables`` and
# ``column_descriptors`` are append-only — a conflicting version's
# net-new rows fold back as a plain multiset union. ``sessions`` takes
# point-UPDATES (C2), so the fold must merge per logical row: the
# natural key plus started_at (microsecond-minted, so allow_duplicate
# sessions sharing a second-granularity name stay distinct rows), with
# the freshest updated_at winning — two writers racing updates to
# DIFFERENT sessions both survive; same-session races resolve
# last-writer-wins, loud in version history.
_MERGE_KEYS: dict[str, list[str] | None] = {
    "sessions": ["mode", "cluster_name", "session_name", "dest_root", "started_at"],
    "tables": None,
    "column_descriptors": None,
}

# Spark type → arrow type. The catalog's naive datetimes ARE UTC
# (_now()); they are stored as timestamp[us, UTC] and decoded back to
# naive UTC, so values round-trip exactly under any Spark session zone.
_ARROW = {
    T.LongType: pa.int64(),
    T.StringType: pa.string(),
    T.BooleanType: pa.bool_(),
    T.TimestampType: pa.timestamp("us", tz="UTC"),
}


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _rows_to_arrow(rows: list[dict], schema: T.StructType) -> pa.Table:
    fields = [pa.field(f.name, _ARROW[type(f.dataType)]) for f in schema.fields]
    return pa.Table.from_pylist(rows, schema=pa.schema(fields))


def _rows_to_parquet_bytes(rows: list[dict], schema: T.StructType) -> bytes:
    """Serialize catalog rows to one parquet file in memory (pyarrow)."""
    buf = pa.BufferOutputStream()
    pq.write_table(_rows_to_arrow(rows, schema), buf, compression="snappy")
    return buf.getvalue().to_pybytes()


def _decode(data: bytes, schema: T.StructType) -> list[dict]:
    """Rows of one catalog parquet file, cast to the catalog schema.

    Any writer's timestamps (pyarrow's timestamp[us, UTC], Spark's
    INT96) come back as naive UTC datetimes; a column the file lacks
    (``tables.dest_root`` in older catalogs) comes back NULL."""
    t = pq.read_table(pa.BufferReader(data))
    cols = []
    for f in schema.fields:
        typ = _ARROW[type(f.dataType)]
        col = t[f.name].cast(typ) if f.name in t.column_names else pa.nulls(t.num_rows, typ)
        cols.append(col.cast(pa.timestamp("us")) if pa.types.is_timestamp(typ) else col)
    return pa.Table.from_arrays(cols, names=schema.names).to_pylist()


def _multiset(rows: list[dict], schema: T.StructType) -> Counter:
    return Counter(tuple(r[n] for n in schema.names) for r in rows)


def _freshness(row: dict) -> tuple[datetime, datetime]:
    """Sort key: freshest updated_at, then ended_at; NULLs lose."""
    return (row["updated_at"] or datetime.min, row.get("ended_at") or datetime.min)


def _like(pattern: str | None):
    """SQL LIKE as a predicate, with Spark's semantics: ``%`` matches any
    run, ``_`` one character, ``\\`` escapes the next character, and
    NULL never matches. ``None`` matches everything."""
    if pattern is None:
        return lambda s: True
    tokens = re.findall(r"\\.|.", pattern, re.DOTALL)
    rx = re.compile(
        "".join(".*" if t == "%" else "." if t == "_" else re.escape(t[-1]) for t in tokens),
        re.DOTALL,
    )
    return lambda s: s is not None and rx.fullmatch(s) is not None


def mint_session_name(ts: datetime | None = None) -> str:
    """U3: session timestamp mint, yyyyMMdd_HHmmss (cli.rb:30-32)."""
    return (ts or _now()).strftime("%Y%m%d_%H%M%S")


def canonical_cluster_name(host: str) -> str:
    """U2: hostname canonicalization, [-.] → _ (cli.rb:354,360)."""
    return re.sub(r"[-.]", "_", host)


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # table -> (data dir, {file name: decoded rows}): see _read_snapshot
        self._decoded: dict[str, tuple[str, dict[str, list[dict]]]] = {}

    def _path(self, table: str) -> str:
        return storage.join_path(self.root, table)

    def read(self, table: str) -> DataFrame:
        """Wait-free read (VERDICT r10 #1) of a whole catalog table as a
        DataFrame. The rows come from :meth:`_read_snapshot`: the current
        committed version (one listing, no fence), whose files survive one
        full subsequent swap (commit_version keep_previous=1, plus the r12
        retention TTL), so a reader racing an end_info/compact swap
        completes on the previous version instead of FileNotFound-ing;
        legacy pre-r11 catalogs resolve to the table dir itself."""
        return self._frame(self._where(table), _TABLES[table])

    def _frame(self, rows: list[dict], schema: T.StructType) -> DataFrame:
        """The DataFrame face of a driver-side answer (no Spark job)."""
        return self.spark.createDataFrame(_rows_to_arrow(rows, schema), schema)

    def _where(self, table: str, **eq) -> list[dict]:
        """Current rows of ``table`` whose columns equal every given
        value (a None value is no filter; a NULL cell never matches)."""
        eq = {k: v for k, v in eq.items() if v is not None}
        return [r for r in self._read_snapshot(table)[0] if all(r[k] == v for k, v in eq.items())]

    def _read_snapshot(self, table: str) -> tuple[list[dict], int | None, set[str]]:
        """(current rows, the committed version they came from, the data
        files the read was pinned to) — the snapshot a read-modify-swap
        must pass to :meth:`_overwrite` so BOTH conflict classes on an
        advisory-fence scheme are detected and folded instead of
        silently lost (VERDICT r11 #3): a concurrent COMMIT landing
        between the read and the swap (parent mismatch), and a
        concurrent APPEND landing a file into the parent dir after the
        read (file-set mismatch — the read is pinned to the listed
        files, so a later-landing file is provably not in the rewrite).
        ``parent=None`` = legacy/empty layout (no committed version).
        The fence makes both impossible wherever it is atomic.

        Both listings run on every call; decoding does not. Data file
        names are uuid-unique and a landed file is never rewritten, so a
        file already decoded from this data dir has the same rows: each
        table keeps the rows of its current dir's files, decodes only
        files it has not seen (an append decodes one file, a new version
        all of its files) and returns copies (end_info updates rows in
        place). Pool threads share the cache without a lock: each stored
        entry pairs a dir with rows of that dir's files, so a racing
        thread's older entry costs a decode, never a wrong row."""
        path = self._path(table)
        vs = storage.committed_versions(self.spark, path)
        parent = vs[-1] if vs else None
        data = storage.version_dir(path, parent) if parent is not None else path
        files = self._data_files(data)
        cached_dir, decoded = self._decoded.get(table, (None, {}))
        if cached_dir != data:
            decoded = {}
        decoded = {n: decoded[n] if n in decoded else self._read_files(table, data, [n]) for n in files}
        self._decoded[table] = (data, decoded)
        return [dict(r) for n in sorted(files) for r in decoded[n]], parent, files

    def _read_files(self, table: str, data_dir: str, names: set[str] | list[str]) -> list[dict]:
        schema = _TABLES[table]
        return [
            row
            for name in sorted(names)
            for row in _decode(storage.read_bytes(self.spark, storage.join_path(data_dir, name)), schema)
        ]

    def _data_files(self, data_dir: str) -> set[str]:
        """Visible parquet data files in one version dir (hidden
        ``.inflight-*`` staging files and ``_``-markers excluded — the
        same visibility rule Spark's input listing applies)."""
        return {
            e["name"]
            for e in storage.list_path(self.spark, data_dir)
            if e["name"].endswith(".parquet")
            and not e["name"].startswith((".", "_"))
        }

    def _data_dir(self, table: str) -> str:
        """Current version dir for WRITERS (caller holds the fence). A
        brand-new table is versioned from birth: create + commit an
        empty v000000 so readers and appenders share one layout."""
        path = self._path(table)
        base = storage.resolve_data_dir(self.spark, path)
        if base == path and not storage.exists(self.spark, path):
            n, vdir = storage.begin_version(self.spark, path)
            storage.mkdirs(self.spark, vdir)
            storage.commit_version(self.spark, path, n)
            return vdir
        return base

    def _append_rows(self, table: str, rows: list[dict]) -> None:
        """Raw append — caller must hold :meth:`_swap_fence` on ``table``.

        The rows become one parquet file built driver-side with pyarrow
        and streamed through the Hadoop FS (any scheme) in ~10ms — the
        fence is held for that, not for a Spark write job (r10,
        CONCURRENCY.json). The stream lands under a DOT-prefixed name
        first (hidden from input listings — readers deliberately take no
        fence, and a direct write to the final name would expose a
        zero-length/partial file to a concurrent reader), then renames
        into place: rename is the visibility barrier.

        Post-append reconcile (VERDICT r11 #3): on an advisory-fence
        scheme a concurrent read-modify-swap can publish a NEW version
        between our resolve and our file landing — a rewrite based on a
        read that predates our file silently drops it when the old
        version retires. Each round detects the swap (one listing — the
        fast path costs nothing more) and, unless our rows are already
        in the new current version (exact multiset containment), lands
        them again there. The final land is verified before raising
        (r13, ADVICE r12) so a retrying caller never duplicates rows."""
        schema = _TABLES[table]
        data = _rows_to_parquet_bytes(rows, schema)
        ours = _multiset(_decode(data, schema), schema)  # as a reader will see them

        def land(base: str) -> None:
            final = f"{base}/part-{uuid.uuid4().hex}.parquet"
            tmp = f"{base}/.inflight-{uuid.uuid4().hex}.parquet"
            storage.save_bytes(self.spark, tmp, data)
            storage.rename(self.spark, tmp, final)

        base = self._data_dir(table)  # append INTO the current version
        land(base)
        rounds = _reconcile_rounds()
        for attempt in range(rounds + 1):
            cur = storage.resolve_data_dir(self.spark, self._path(table))
            if cur == base or not ours - _multiset(self._where(table), schema):
                return  # no swap, or the swap's read already included our file
            if attempt == rounds:
                break
            warnings.warn(
                f"catalog append to {table!r} raced a concurrent version swap "
                f"(advisory-fence scheme): re-landing {len(rows)} row(s) into "
                f"the new current version.",
                RuntimeWarning,
                stacklevel=3,
            )
            base = cur
            land(base)
        raise CatalogContentionError(
            f"catalog append to {table!r} could not converge after {rounds} "
            f"attempts — a writer is swapping versions faster than appends can "
            f"land; serialize catalog writers (the single-writer contract)."
        )

    def _append(self, table: str, rows: list[dict], wait_s: float | None = None) -> None:
        """Fenced append (ADVICE r8): an append landing between a fenced
        read-modify-swap's READ and its directory swap would be silently
        obliterated by the rewrite — the same lost-update class the
        fence exists to make loud. Appends therefore take the fence too,
        with a bounded wait — APPEND_FENCE_WAIT_S, sized for a
        max_concurrent fleet's queue of fenced writes, not the
        reference's 10x3s swap ceiling — so a fleet's row inserts ride
        out both a momentary swap and each other instead of crashing."""
        with self._swap_fence(table, wait_s=APPEND_FENCE_WAIT_S if wait_s is None else wait_s):
            self._append_rows(table, rows)

    @contextmanager
    def _swap_fence(self, table: str, wait_s: float = 0.0):
        """Single-writer fence for catalog mutations (VERDICT r7 #5):
        a lockfile beside the table dir, claimed via the atomic
        ``FileSystem.createNewFile`` (VERDICT r9 #1 — works on any
        Hadoop scheme; O_EXCL would pin the catalog to the driver's
        POSIX disk). The swap itself was already rename-atomic, but two
        concurrent updaters could both read the OLD state and
        rename-over-rename — the loser's update silently vanishes;
        likewise an _append racing a swap vanishes under the overwrite
        (ADVICE r8). The fence makes the contract loud: with
        ``wait_s=0`` a second writer raises CatalogContentionError
        immediately (contention between two read-modify-swap drivers is
        a deployment bug to surface); with ``wait_s>0`` it sleep-polls
        (FENCE_POLL_S, never busy-waits) up to the bound — the
        reference's own remedy, a <=10x3s retry loop
        (mysql.rb:250-256) — then raises. The lockfile carries
        pid+timestamp so a crashed holder is diagnosable (and removable
        by an operator). S3A roots: no atomic create-if-absent exists,
        so there the fence is advisory (module docstring caveat).
        """
        with storage.path_fence(
            self.spark,
            f"{self._path(table)}.lock",
            wait_s=wait_s,
            poll_s=FENCE_POLL_S,
            error=CatalogContentionError,
            what=f"catalog table {table!r}",
        ):
            yield

    def _overwrite(
        self,
        table: str,
        rows: list[dict],
        parent: int | None,
        keep_previous: int = 1,
        ttl_s: float | None = None,
        seen_files: set[str] | None = None,
    ) -> None:
        """Versioned rewrite (VERDICT r10 #1 — C2's UPDATE without Delta):
        write the new state as one parquet file into the NEXT version
        dir, then publish it with one commit-marker create. Readers
        mid-scan keep the previous version's files (retired only by the
        swap after this one, TTL-extended since r12), so the old
        delete-then-rename FileNotFound window is gone on every scheme.
        Callers doing read-modify-write must hold :meth:`_swap_fence`
        across the READ as well — the commit being atomic does not stop
        two writers from both basing their rewrite on the same old state.

        Two-writer commit reconciliation (VERDICT r11 #3): on
        advisory-fence schemes both writers CAN get past the fence and
        both commit — previously last-version-wins, the loser's rows
        retired with its version. ``parent``/``seen_files`` (from
        :meth:`_read_snapshot`) pin what this rewrite was based on; two
        conflict classes are detected and FOLDED instead of lost:

        - a concurrent COMMIT (version committed since the parent):
          its net-new rows union back in (per-key freshest-update merge
          for ``sessions``, see _MERGE_KEYS);
        - a concurrent APPEND (file landed in the source dir after the
          pinned read): the late file's rows union back in. The append
          side independently re-lands rows when it OBSERVES the swap
          (see ``_append_rows``); the two sides close the window
          between them — the append's post-land resolve always follows
          its land, and this writer's post-commit listing always
          follows its commit, so whichever acted last sees the other.

        Both folds stamp ``merged=...`` into the commit marker so the
        race is loud in version history, and both re-check AFTER the
        marker lands (a conflict slipping between scan and commit folds
        into a follow-up version). Bounded retries; on atomic-fence
        schemes none of this ever fires."""
        path = self._path(table)
        folded: set[int] = set()
        ours: set[int] = set()
        folded_files: list[str] = []
        src_dir = (
            storage.version_dir(path, parent) if parent is not None else path
        )
        src_files = set(seen_files) if seen_files is not None else None
        last_n: int | None = None
        rounds = _reconcile_rounds()
        for _ in range(rounds):
            n, vdir = storage.begin_version(self.spark, path)
            for v in self._conflict_versions(path, parent, n, folded, ours):
                rows = self._fold_version(table, rows, path, v)
                folded.add(v)
            storage.save_bytes(
                self.spark,
                storage.join_path(vdir, f"part-{uuid.uuid4().hex}.parquet"),
                _rows_to_parquet_bytes(rows, _TABLES[table]),
            )
            note = None
            if folded or folded_files:
                note = f"merged={sorted(folded)}+{len(folded_files)}f"
            # NON-DESTRUCTIVE publish (r12 soak finding): a reconciling
            # round must not retire anything — retirement here would
            # destroy the very versions a post-commit check still needs
            # to fold (and files concurrent readers resolved moments
            # ago). Real retirement runs ONCE, below, after convergence.
            storage.commit_version(
                self.spark, path, n, keep_previous=10**6, ttl_s=ttl_s, note=note
            )
            ours.add(n)
            last_n = n
            late_v = self._conflict_versions(path, parent, n, folded, ours)
            late_f: list[str] = []
            if src_files is not None:
                late_f = sorted(self._data_files(src_dir) - src_files)
            if not late_v and not late_f:
                # converged: one retirement pass with the real policy
                # (idempotent marker rewrite + grace/TTL retirement)
                storage.commit_version(
                    self.spark, path, n, keep_previous=keep_previous,
                    ttl_s=ttl_s, note=note,
                )
                return
            warnings.warn(
                f"catalog commit conflict on {table!r}: "
                f"version(s) {late_v} / {len(late_f)} appended file(s) "
                f"landed concurrently with v{n} (advisory-fence scheme) — "
                f"folding into a follow-up commit.",
                RuntimeWarning,
                stacklevel=3,
            )
            # next round's base: the now-current state + the late rows
            rows, p2, f2 = self._read_snapshot(table)
            for v in late_v:
                rows = self._fold_version(table, rows, path, v)
                folded.add(v)
            if late_f:
                rows = self._merge_rows(table, rows, self._read_files(table, src_dir, late_f))
                folded_files.extend(late_f)
            # appends now land in the CURRENT dir — guard that one next
            src_dir = (
                storage.version_dir(path, p2) if p2 is not None else path
            )
            src_files = f2
        raise CatalogContentionError(
            f"catalog rewrite of {table!r} could not converge after {rounds} "
            f"reconciliation rounds (last committed v{last_n}) — MULTIPLE "
            f"read-modify-swap writers are racing on an advisory-fence "
            f"scheme, which is best-effort by contract: appends reconcile "
            f"losslessly against ONE swapper, but concurrent swappers must "
            f"be serialized externally. No version was retired during "
            f"reconciliation, so every writer's rows remain in the live "
            f"version dirs — re-run compact() under a real fence to fold "
            f"the remainder."
        )

    def _conflict_versions(
        self,
        path: str,
        parent: int | None,
        n: int,
        folded: set[int],
        ours: set[int],
    ) -> list[int]:
        """Committed versions that are neither our base (``parent``) nor
        our own commits nor already folded — i.e. concurrent writers'
        commits this rewrite would otherwise orphan."""
        return [
            v
            for v in storage.committed_versions(self.spark, path)
            if v != n
            and v not in folded
            and v not in ours
            and (parent is None or v > parent)
        ]

    def _fold_version(
        self, table: str, rows: list[dict], path: str, v: int
    ) -> list[dict]:
        """Merge a conflicting version's rows into ``rows``
        (:meth:`_merge_rows`). If the conflicting version's data was
        already retired before reconciliation could read it (two+
        interlopers in one grace window), the loss is unrecoverable —
        warn loudly rather than fail the commit."""
        vdir = storage.version_dir(path, v)
        if not storage.exists(self.spark, vdir):
            warnings.warn(
                f"catalog version v{v:06d} of {table!r} was retired before "
                f"its conflicting rows could be reconciled — any rows unique "
                f"to it are lost (advisory-fence double-write window).",
                RuntimeWarning,
                stacklevel=3,
            )
            return rows
        return self._merge_rows(table, rows, self._read_files(table, vdir, self._data_files(vdir)))

    def _merge_rows(self, table: str, rows: list[dict], extra: list[dict]) -> list[dict]:
        """Union ``extra``'s net-new rows into ``rows``: exact duplicates
        drop (multiset difference — we already carry them), then
        ``sessions`` merges per logical row with the freshest updated_at
        winning (_MERGE_KEYS), so two updates to different sessions both
        survive."""
        schema = _TABLES[table]
        new = _multiset(extra, schema) - _multiset(rows, schema)
        merged = rows + [dict(zip(schema.names, values)) for values in new.elements()]
        keys = _MERGE_KEYS[table]
        if not keys:
            return merged
        best: dict[tuple, dict] = {}
        for row in merged:
            k = tuple(row[c] for c in keys)
            if k not in best or _freshness(row) > _freshness(best[k]):
                best[k] = row
        return list(best.values())

    def compact(
        self, table: str | None = None, purge: bool = False
    ) -> dict[str, tuple[int, int]]:
        """Collapse append fragmentation in the catalog dirs.

        Every fenced append lands one metadata-sized parquet file, so a
        long-running fleet accrues one file per table per session;
        ``sessions`` self-compacts on every end_info swap, but
        ``tables``/``column_descriptors`` never get swapped. This
        rewrites each dir to one file under the same fence +
        versioned-commit swap as C2 (readers never see a half state).
        Returns {table: (files_before, files_after)}. Cadence: after a
        large fleet run, or whenever reads slow.

        ``purge=True`` (VERDICT r11 #5 — the RTBF twin of
        ``scrub_index(purge=True)``): retire every superseded version
        IMMEDIATELY after the rewrite commits, overriding both the
        count grace and the retention TTL — after a compliance edit
        (e.g. rows rewritten to drop a cluster's identifiers), the
        pre-edit bytes must not survive in a grace copy until the next
        organic swap. In-flight readers of the purged copy fail loudly
        (FileNotFound) — the desired behavior for a compliance
        deletion."""
        if table is not None and table not in _TABLES:
            raise ValueError(
                f"unknown catalog table {table!r}; expected one of {sorted(_TABLES)}"
            )
        out: dict[str, tuple[int, int]] = {}
        for t in [table] if table else list(_TABLES):
            if not storage.exists(self.spark, self._path(t)):
                continue
            with self._swap_fence(t, wait_s=FENCE_WAIT_S):
                # count the CURRENT version only — the grace copy kept
                # for in-flight readers (keep_previous=1) is not live
                # fragmentation, it retires at the next swap
                _, before = storage.dir_bytes_and_files(
                    self.spark, storage.resolve_data_dir(self.spark, self._path(t))
                )
                rows, parent, files = self._read_snapshot(t)
                if purge:
                    self._overwrite(
                        t, rows, parent, keep_previous=0, ttl_s=0.0, seen_files=files
                    )
                else:
                    self._overwrite(t, rows, parent, seen_files=files)
                _, after = storage.dir_bytes_and_files(
                    self.spark, storage.resolve_data_dir(self.spark, self._path(t))
                )
            out[t] = (before, after)
        return out

    def maintain(self, max_files_per_table: int = 8) -> dict[str, tuple[int, int]]:
        """Apply the catalog's own maintenance policy (VERDICT r10 #4)
        — the cron-able twin of ``maintain_index``: every fenced append
        lands one metadata-sized parquet file, so a long-running fleet
        accrues files; this compacts exactly the tables whose CURRENT
        version holds more than ``max_files_per_table`` data files and
        leaves the rest untouched, so a second call right after is a
        no-op. Returns {table: (files_before, files_after)} for the
        tables actually compacted."""
        out: dict[str, tuple[int, int]] = {}
        for t in list(_TABLES):
            if not storage.exists(self.spark, self._path(t)):
                continue
            _, files = storage.dir_bytes_and_files(
                self.spark, storage.resolve_data_dir(self.spark, self._path(t))
            )
            if files > max_files_per_table:
                out.update(self.compact(t))
        return out

    # ---- C1: session start -------------------------------------------------
    def start_info(
        self,
        mode: str,
        cluster_name: str,
        session_name: str,
        dest_root: str,
        specified_start: int,
        specified_end: int,
        started_at: datetime | None = None,
        allow_duplicate: bool = False,
    ) -> None:
        """C1 (mysql.rb:226-239): append the session-start row.

        Rejects a duplicate natural key by default — the reference
        appends blindly and its C2 UPDATE then clobbers every row with
        that key (observed in round-1 verification); opt in with
        ``allow_duplicate`` to reproduce that behavior. The dup-check
        and the append run under ONE fence hold (bounded wait) so two
        racing start_infos cannot both pass the check, and the append
        cannot vanish under a concurrent end_info swap (ADVICE r8).
        """
        with self._swap_fence("sessions", wait_s=FENCE_WAIT_S):
            if not allow_duplicate and self._where(
                "sessions", mode=mode, cluster_name=cluster_name, session_name=session_name, dest_root=dest_root
            ):
                raise ValueError(
                    f"session already recorded: mode={mode!r} cluster={cluster_name!r} "
                    f"session={session_name!r} dest_root={dest_root!r}"
                )
            self._append_rows(
                "sessions",
                [
                    {
                        "mode": mode,
                        "cluster_name": cluster_name,
                        "session_name": session_name,
                        "dest_root": dest_root,
                        "specified_start": specified_start,
                        "specified_end": specified_end,
                        "started_at": started_at or _now(),
                        "ended_at": None,
                        "error": False,
                        "error_info": None,
                        "updated_at": _now(),
                    }
                ],
            )

    # ---- C2: session end (point update) ------------------------------------
    def end_info(
        self,
        mode: str,
        cluster_name: str,
        session_name: str,
        dest_root: str,
        ended_at: datetime | None = None,
        error: bool = False,
        error_info: str | None = None,
        wait: bool | float = False,
    ) -> None:
        """C2 (mysql.rb:246-267): update ended_at/error on the session row,
        keyed on (mode, cluster_name, session_name, dest_root).

        ``wait`` (VERDICT r8 #5): False (default) raises
        CatalogContentionError immediately if another writer holds the
        fence — the single-writer contract stays loud. ``wait=True``
        sleep-polls up to FENCE_WAIT_S (the reference's own <=10x3s
        retry, mysql.rb:250-256) so a 16-session export fleet's
        end-brackets serialize without caller-side retry loops; a
        number is a custom bound in seconds."""
        wait_s = FENCE_WAIT_S if wait is True else (0.0 if wait is False else float(wait))
        key = (mode, cluster_name, session_name, dest_root)
        ended = ended_at or _now()
        # fence spans the read AND the swap: the lost-update race is two
        # writers reading the same old state, not the renames themselves.
        # The parent version rides along so an advisory-scheme double-
        # write is detected and reconciled at commit (VERDICT r11 #3).
        with self._swap_fence("sessions", wait_s=wait_s):
            rows, parent, files = self._read_snapshot("sessions")
            stamp = _now()
            for r in rows:
                if (r["mode"], r["cluster_name"], r["session_name"], r["dest_root"]) == key:
                    r.update(ended_at=ended, error=error, error_info=error_info, updated_at=stamp)
            self._overwrite("sessions", rows, parent, seen_files=files)

    # ---- C3/C4: per-table results ------------------------------------------
    def exported_table_info(
        self,
        table_name: str,
        session_name: str,
        start_time: int,
        end_time: int,
        versions: int,
        column_descriptors: list[dict] | None = None,
        empty: bool = False,
        error: bool = False,
        error_info: str | None = None,
        dest_root: str | None = None,
    ) -> None:
        """C3 (mysql.rb:154-190): table row + child descriptor rows.
        ``dest_root`` records the chain key on the table row itself
        (ADVICE r8 — session_name is second-granularity and can collide
        across chains)."""
        self._append(
            "tables",
            [
                {
                    "mode": "export",
                    "table_name": table_name,
                    "session_name": session_name,
                    "dest_root": dest_root,
                    "start_time": start_time,
                    "end_time": end_time,
                    "specified_versions": versions,
                    "empty": empty,
                    "error": error,
                    "error_info": error_info,
                    "updated_at": _now(),
                }
            ],
        )
        if column_descriptors:
            rows = []
            for cd in column_descriptors:
                row = {k: cd.get(k) for k in DESCRIPTOR_ATTRS}
                row.update(
                    {
                        "mode": "export",
                        "session_name": session_name,
                        "table_name": table_name,
                        "name": cd["name"],
                        "updated_at": _now(),
                    }
                )
                rows.append(row)
            self._append("column_descriptors", rows)

    def imported_table_info(
        self,
        table_name: str,
        session_name: str,
        empty: bool = False,
        error: bool = False,
        error_info: str | None = None,
        dest_root: str | None = None,
    ) -> None:
        """C4 (mysql.rb:200-215): import result row (no descriptor children)."""
        self._append(
            "tables",
            [
                {
                    "mode": "import",
                    "table_name": table_name,
                    "session_name": session_name,
                    "dest_root": dest_root,
                    "start_time": None,
                    "end_time": None,
                    "specified_versions": None,
                    "empty": empty,
                    "error": error,
                    "error_info": error_info,
                    "updated_at": _now(),
                }
            ],
        )

    # ---- C5-C9: queries ----------------------------------------------------
    def _in_chain(
        self, rows: list[dict], dest_root: str, mode: str, cluster_name: str | None = None
    ) -> list[dict]:
        """The table rows of one export chain (ADVICE r8): rows whose own
        dest_root is the chain's — or NULL, as older catalogs wrote them
        — and whose session is recorded under that dest_root (and
        ``cluster_name``, when given). The reference reaches the session
        through the FK association (mysql.rb:285)."""
        sessions = self._where("sessions", mode=mode, dest_root=dest_root, cluster_name=cluster_name)
        chain = {s["session_name"] for s in sessions}
        return [r for r in rows if r["dest_root"] in (dest_root, None) and r["session_name"] in chain]

    def _table_rows(
        self, table_name: str, session_name: str | None, mode: str, dest_root: str | None
    ) -> list[dict]:
        rows = self._where("tables", mode=mode, table_name=table_name, session_name=session_name)
        return rows if dest_root is None else self._in_chain(rows, dest_root, mode)

    def table_names(self, session_name: str, dest_root: str, pattern: str | None = None, mode: str = "export") -> DataFrame:
        """C5 (mysql.rb:274-288): tables of a session in one chain
        (:meth:`_in_chain`), optional LIKE wildcard."""
        like = _like(pattern)
        rows = [r for r in self._where("tables", mode=mode, session_name=session_name) if like(r["table_name"])]
        names = sorted({r["table_name"] for r in self._in_chain(rows, dest_root, mode)})
        return self._frame([{"table_name": n} for n in names], _NAMES_SCHEMA)

    def exists(
        self,
        table_name: str,
        session_name: str | None = None,
        mode: str = "export",
        dest_root: str | None = None,
    ) -> bool:
        """C6 (mysql.rb:290-297): membership probe (idempotent resume).
        ``dest_root`` keys the probe on the chain (:meth:`_in_chain`):
        another chain's session of the same name must not count."""
        return bool(self._table_rows(table_name, session_name, mode, dest_root))

    def table_info(
        self, table_name: str, session_name: str, dest_root: str, mode: str = "export"
    ) -> dict | None:
        """The latest row of one table in one session of one chain, or
        None. Latest wins deterministically: a failed attempt's error row
        and a later success row can share (table, session) (ADVICE r1)."""
        return max(self._table_rows(table_name, session_name, mode, dest_root), key=_freshness, default=None)

    def list_table_info(self, session_name: str, pattern: str | None = None, mode: str = "export") -> DataFrame:
        """C7 (mysql.rb:306-316): full table rows for a session."""
        like = _like(pattern)
        rows = [r for r in self._where("tables", mode=mode, session_name=session_name) if like(r["table_name"])]
        return self._frame(rows, TABLES_SCHEMA)

    def column_descriptors(self, table_name: str, session_name: str, mode: str = "export") -> list[dict]:
        """C8 (mysql.rb:324-337): descriptor rows, whitelist projection,
        nil values dropped (stargate.rb:36-44 AVAILABLE_OPTS)."""
        return [
            {k: r[k] for k in ("name", *DESCRIPTOR_ATTRS) if r[k] is not None}
            for r in self._where("column_descriptors", mode=mode, table_name=table_name, session_name=session_name)
        ]

    def _session_rows(self, mode: str, session_name_pattern: str | None) -> list[dict]:
        like = _like(session_name_pattern)
        return [r for r in self._where("sessions", mode=mode) if like(r["session_name"])]

    def session_info(self, mode: str, session_name_pattern: str | None = None) -> DataFrame:
        """C9 (mysql.rb:346-363): sessions by mode, optional LIKE."""
        return self._frame(self._session_rows(mode, session_name_pattern), SESSIONS_SCHEMA)

    def session_report(self, mode: str, session_name_pattern: str | None = None) -> DataFrame:
        """C10 (cli.rb:287-322): nested session → table report as one
        left join (the reference loops two queries). A table row joins
        its session on the composite chain key when it carries dest_root
        (ADVICE r8); legacy NULL rows keep the session-name-only match."""
        tables = self._where("tables", mode=mode)
        no_table = dict.fromkeys(TABLES_SCHEMA.names)
        out = []
        for s in self._session_rows(mode, session_name_pattern):
            matched = [
                t
                for t in tables
                if t["session_name"] == s["session_name"] and t["dest_root"] in (None, s["dest_root"])
            ]
            for t in matched or [no_table]:
                side = {"s": s, "t": t}
                out.append({alias: side[src][col] for alias, src, col in _REPORT_COLS})
        return self._frame(out, _REPORT_SCHEMA)

    # ---- §2.B: point-in-time restore session pruning ------------------------
    def restore_sessions(
        self,
        table_name: str,
        dest_root: str,
        cutoff_ts: int,
        mode: str = "export",
        cluster_name: str | None = None,
    ) -> list[dict]:
        """Minimal session set for a point-in-time restore of one table
        (VERDICT r7 #2): the sessions in this ``dest_root`` chain whose
        recorded export range for ``table_name`` can contain any cell
        with ts <= cutoff, i.e. ``start_time <= cutoff_ts``
        (docs/Proposed_HBase_Backup_using_HBASE-1684.txt:94-97 replay
        semantics — an increment whose whole range begins after the
        cutoff contributes zero rows, so its snapshot dir need never be
        read). Empty exports (no dir written) and errored TABLE rows
        are excluded. Session-level error is deliberately NOT a filter
        (ADVICE r8, high): export_tables marks the whole session
        error=True when ANY table in it fails — after earlier tables
        already committed clean snapshot dirs and clean table rows. A
        clean table row proves its dir was written, so those valid
        increments stay restorable; pruning them would silently return
        stale cells (and next_start_times has already advanced the
        watermark past such sessions, so the range would never be
        re-exported). Chain isolation: :meth:`_in_chain`.
        Returns rows {session_name, start_time, end_time} sorted by
        start_time.
        """
        rows = [
            r
            for r in self._where("tables", mode=mode, table_name=table_name, error=False, empty=False)
            if r["start_time"] is not None and r["start_time"] <= cutoff_ts
        ]
        return [
            {k: r[k] for k in ("session_name", "start_time", "end_time")}
            for r in sorted(self._in_chain(rows, dest_root, mode, cluster_name), key=lambda r: r["start_time"])
        ]

    # ---- §2.B: incremental chain watermark ---------------------------------
    def next_start_times(
        self,
        dest_root: str | None = None,
        mode: str = "export",
        cluster_name: str | None = None,
    ) -> list[dict]:
        """Per-table watermark: next export's start_time = max recorded
        end_time (docs/…HBASE-1684.txt:40-58), as rows {table_name,
        next_start_time}.

        The watermark is keyed by the export CHAIN, not just the table
        (:meth:`_in_chain`): without this, the first incremental export
        to a NEW destination would inherit another chain's watermark and
        silently omit every older cell from the new chain (ADVICE r1).
        ``dest_root=None`` keeps the legacy across-all-chains behavior
        for callers that genuinely want a global watermark.
        """
        rows = self._where("tables", mode=mode, error=False)
        if dest_root is not None:
            rows = self._in_chain(rows, dest_root, mode, cluster_name)
        ends: dict[str, list[int]] = {}
        for r in rows:
            ends.setdefault(r["table_name"], []).append(r["end_time"])
        return [
            {"table_name": t, "next_start_time": max((e for e in es if e is not None), default=None)}
            for t, es in ends.items()
        ]
