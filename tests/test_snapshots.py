"""Snapshot export/import/restore (S1-S10, §2.B) — including the
metamorphic properties SURVEY.md §5 calls for:

- incremental chain ≡ one full export
- point-in-time restore == latest-version-wins at the cutoff
- idempotent resume skips recorded tables
- empty tables are recorded schema-only
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbacker_spark.catalog.catalog import Catalog
from hbacker_spark.operators.snapshots import (
    CELLS_SCHEMA,
    SnapshotStore,
    scan_export,
    snapshot_path,
    version_limited,
)

T1, T2, T3 = 1_288_537_130_080, 1_290_000_000_000, 1_291_233_436_567  # fixture range (export_spec.rb:24-25)


def make_cells(spark):
    """Versioned cells: multiple versions per key, 2 CFs, ts spanning
    two disjoint ranges (FIXTURES.md §1.1 generator requirements)."""
    rows = []
    for rk in range(6):
        for cf in ("hobbit", "sauron"):
            for q in ("qa", "qb"):
                for v in range(4):  # 4 versions per cell
                    ts = T1 + rk * 1000 + v * ((T3 - T1) // 4)  # spread over both ranges
                    rows.append((f"row{rk:03d}", cf, q, ts, f"v{v}-{rk}-{cf}-{q}"))
    return spark.createDataFrame(rows, CELLS_SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, Catalog(spark, str(tmp_path / "catalog")))


@pytest.fixture()
def dest(tmp_path):
    return str(tmp_path / "backups")


def test_version_limit_keeps_newest(spark):
    cells = make_cells(spark)
    limited = version_limited(cells, 2)
    per_key = limited.groupBy("row_key", "cf", "qualifier").agg(
        F.count("*").alias("n"), F.max("ts").alias("max_ts"), F.min("ts").alias("min_ts")
    )
    assert per_key.filter(F.col("n") > 2).count() == 0
    # the newest version always survives
    orig_max = cells.groupBy("row_key", "cf", "qualifier").agg(F.max("ts").alias("omax"))
    joined = per_key.join(orig_max, ["row_key", "cf", "qualifier"])
    assert joined.filter(F.col("max_ts") != F.col("omax")).count() == 0


def test_scan_export_time_range(spark):
    cells = make_cells(spark)
    snap = scan_export(cells, T1, T2, versions=100)
    assert snap.filter((F.col("ts") < T1) | (F.col("ts") >= T2)).count() == 0


def test_export_import_roundtrip(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t_cells": cells}, dest, "20110101_111111", 0, T3 + 1)
    restored = store.import_tables(dest, "20110101_111111", "20110102_000000")
    assert set(restored) == {"t_cells"}
    assert sorted(map(tuple, restored["t_cells"].collect())) == sorted(map(tuple, cells.collect()))
    # session bracketing recorded for both modes
    assert store.catalog.session_info("export").count() == 1
    assert store.catalog.session_info("import").count() == 1
    assert store.catalog.session_info("import").collect()[0]["ended_at"] is not None


def test_incremental_chain_equals_full_export(spark, store, dest):
    """Full [0,T2) then incremental [T2,T3] unioned == one full [0,T3]."""
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T2)
    store.export_incremental({"t": cells}, dest, "s_inc", end_time=T3 + 1)

    full_again = scan_export(cells, 0, T3 + 1)
    s1 = spark.read.schema(CELLS_SCHEMA).parquet(snapshot_path(dest, "s_full", "t"))
    s2 = spark.read.schema(CELLS_SCHEMA).parquet(snapshot_path(dest, "s_inc", "t"))
    chained = s1.unionByName(s2)
    assert sorted(map(tuple, chained.collect())) == sorted(map(tuple, full_again.collect()))
    # and the increment really started at the full export's end watermark
    inc_row = (
        store.catalog.read("tables")
        .filter(F.col("session_name") == "s_inc")
        .collect()[0]
    )
    assert inc_row["start_time"] == T2


def test_point_in_time_restore(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T2)
    store.export_incremental({"t": cells}, dest, "s_inc", end_time=T3 + 1)

    cutoff = T2 + (T3 - T2) // 2
    restored = store.restore_point_in_time(
        "t", dest, ["s_full", "s_inc"], cutoff_ts=cutoff, max_versions=1
    )
    expected = version_limited(cells.filter(F.col("ts") <= cutoff), 1)
    assert sorted(map(tuple, restored.collect())) == sorted(map(tuple, expected.collect()))


def test_pitr_catalog_pruning_skips_after_cutoff_sessions(spark, store, dest):
    """VERDICT r7 #2: session_names=None derives the MINIMAL session set
    from the catalog. A 3-increment chain restored at a cutoff inside
    increment 1 must (a) equal the explicit-list restore, and (b) never
    read increment 2's snapshot dir — asserted on the plan's actual
    input file set, not on trust."""
    # controlled version timestamps so every increment range is non-empty:
    # one version in [0,T2), one in [T2,T2+150), two in [T2+150,T3+1)
    rows = [
        (f"row{rk:03d}", "cf", "q", ts, f"v@{ts}")
        for rk in range(4)
        for ts in (T1 + rk, T2 + 100 + rk, T2 + 200 + rk, T3 - 100 - rk)
    ]
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    tq = T2 + 150  # boundary between increments 1 and 2
    store.export_tables({"t": cells}, dest, "s_full", 0, T2)
    store.export_incremental({"t": cells}, dest, "s_inc1", end_time=tq)
    store.export_incremental({"t": cells}, dest, "s_inc2", end_time=T3 + 1)

    cutoff = T2 + 120  # inside increment 1's range: s_inc2 [tq, T3+1) is prunable
    pruned = store.restore_point_in_time("t", dest, cutoff_ts=cutoff, max_versions=1)
    explicit = store.restore_point_in_time(
        "t", dest, ["s_full", "s_inc1", "s_inc2"], cutoff_ts=cutoff, max_versions=1
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, explicit.collect()))

    read_files = set(pruned.inputFiles())
    assert read_files, "restore read no files at all"
    assert not any("s_inc2" in f for f in read_files), (
        "catalog pruning failed: after-cutoff increment dir was read"
    )
    assert any("s_full" in f for f in read_files)
    assert any("s_inc1" in f for f in read_files)

    # the derived set is exactly the contributing prefix, in chain order
    names = [
        r["session_name"]
        for r in store.catalog.restore_sessions("t", dest, cutoff)
    ]
    assert names == ["s_full", "s_inc1"]

    # a different chain's sessions never leak in: same table exported to
    # another dest_root must not appear in this chain's restore set
    other = dest + "_other"
    store.export_tables({"t": cells}, other, "s_other", 0, T3 + 1)
    names2 = [
        r["session_name"]
        for r in store.catalog.restore_sessions("t", dest, cutoff)
    ]
    assert names2 == ["s_full", "s_inc1"]

    # nothing restorable → loud error, not an empty scan
    with pytest.raises(ValueError, match="nothing to restore"):
        store.restore_point_in_time("t", dest + "_nochain", cutoff_ts=cutoff)


def test_idempotent_resume_skips_recorded(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s1", 0, T3 + 1)
    # resume of the same chain: t is recorded → skipped, no double-write error
    wrote = store.export_table(cells, "t", dest, "s1", 0, T3 + 1, resume=True)
    assert wrote is False


def test_empty_table_schema_only(spark, store, dest):
    empty = spark.createDataFrame([], CELLS_SCHEMA)
    descriptors = [{"name": "hobbit", "max_versions": 3}]
    store.export_tables(
        {"t_empty": empty}, dest, "s1", 0, T3, descriptors={"t_empty": descriptors}
    )
    row = store.catalog.read("tables").collect()[0]
    assert row["empty"] is True
    # schema captured even though no data job ran (worker.rb:89-99)
    assert store.catalog.column_descriptors("t_empty", "s1") == [{"name": "hobbit", "max_versions": 3}]
    # no data dir written
    import os

    assert not os.path.exists(snapshot_path(dest, "s1", "t_empty"))
    # empty-table restore recreates schema-only when asked (S7)
    out = store.import_table("t_empty", dest, "s1", "s2", restore_empty_tables=True)
    assert out is not None and out.count() == 0


def test_s10_subset_validation(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t1": cells, "t2": cells}, dest, "s1", 0, T3 + 1)
    with pytest.raises(ValueError, match="not in backup"):
        store.import_tables(dest, "s1", "s2", requested=["t1", "missing_table"])


def test_duplicate_session_rejected(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s1", 0, T3 + 1)
    # re-running a completed session name is refused up front (C1 guard)
    with pytest.raises(ValueError, match="already recorded"):
        store.export_tables({"t": cells}, dest, "s1", 0, T3 + 1)
    # the original success row is untouched
    rows = store.catalog.session_info("export").collect()
    assert len(rows) == 1 and rows[0]["error"] is False


def test_export_error_records_session_error(spark, store, dest):
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s1", 0, T3 + 1)
    # new session writing into s1's snapshot dir collides mid-flight →
    # the error is captured on the new session row (C2 error path)
    import os

    os.makedirs(snapshot_path(dest, "s2", "t"), exist_ok=True)
    open(os.path.join(snapshot_path(dest, "s2", "t"), "_blocker"), "w").close()
    with pytest.raises(Exception):
        store.export_tables({"t": cells}, dest, "s2", 0, T3 + 1)
    sessions = {r["session_name"]: r for r in store.catalog.session_info("export").collect()}
    assert sessions["s2"]["error"] is True and sessions["s2"]["error_info"] is not None
    assert sessions["s1"]["error"] is False


def test_storage_scheme_dispatch(spark, tmp_path):
    from hbacker_spark.sources import storage

    base = f"file://{tmp_path}/artifacts"
    storage.save_info(spark, f"{base}/s1/t1/export_log.txt", "ok\n")
    storage.save_info(spark, f"{base}/s1/t2/export_log.txt", "ok2\n")
    assert storage.read_info(spark, f"{base}/s1/t1/export_log.txt") == "ok\n"
    listing = storage.list_path(spark, f"{base}/s1")
    assert [d["name"] for d in listing] == ["t1", "t2"]
    assert all(d["is_dir"] for d in listing)
    assert storage.exists(spark, f"{base}/s1/t1/export_log.txt")
    assert not storage.exists(spark, f"{base}/s1/t3")


def test_transient_failure_retried_then_clean(spark, store, dest, monkeypatch):
    """Q5 transient split (worker.rb:28-48): a transient write failure is
    retried in place — ONE final catalog row, no error flag; the partial
    output from the failed attempt is cleared before the retry."""
    from hbacker_spark.operators import snapshots as S

    cells = make_cells(spark)
    real_write = S.SnapshotStore._write_snapshot
    calls = {"n": 0}

    def flaky(self, snap, dest_path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConnectionError("connection reset by peer (simulated object-store blip)")
        return real_write(self, snap, dest_path)

    monkeypatch.setattr(S.SnapshotStore, "_write_snapshot", flaky)
    assert store.export_table(cells, "flaky_t", dest, "s_retry", 0, T3 + 1) is True
    assert calls["n"] == 2
    rows = store.catalog.read("tables").filter(F.col("table_name") == "flaky_t").collect()
    assert len(rows) == 1 and rows[0]["error"] is False and rows[0]["empty"] is False
    # data actually landed and reads back
    got = spark.read.parquet(snapshot_path(dest, "s_retry", "flaky_t"))
    assert got.count() > 0


def test_permanent_failure_recorded_and_raised(spark, store, dest, monkeypatch):
    """Permanent failures skip the retry loop: recorded (error=true) and
    re-raised on the first attempt — the reference's 'bury'."""
    from hbacker_spark.operators import snapshots as S

    cells = make_cells(spark)
    calls = {"n": 0}

    def broken(self, snap, dest_path):
        calls["n"] += 1
        raise ValueError("schema mismatch: permanent")

    monkeypatch.setattr(S.SnapshotStore, "_write_snapshot", broken)
    with pytest.raises(ValueError, match="permanent"):
        store.export_table(cells, "perm_t", dest, "s_perm", 0, T3 + 1)
    assert calls["n"] == 1  # not retried
    rows = store.catalog.read("tables").filter(F.col("table_name") == "perm_t").collect()
    assert len(rows) == 1 and rows[0]["error"] is True


def test_watermark_keyed_by_dest_root(spark, store, dest, tmp_path):
    """ADVICE r1: a NEW destination's first incremental starts at 0 (full
    export), not at another chain's watermark."""
    cells = make_cells(spark)
    store.export_tables({"wm_t": cells}, dest, "chain_a", 0, T2)
    # chain A has a watermark; a brand-new dest_root must not see it
    wm_a = {r["table_name"]: r["next_start_time"]
            for r in store.catalog.next_start_times(dest_root=dest)}
    assert wm_a["wm_t"] == T2
    other = str(tmp_path / "other_dest")
    wm_b = {r["table_name"]: r["next_start_time"]
            for r in store.catalog.next_start_times(dest_root=other)}
    assert "wm_t" not in wm_b
    # incremental to the new dest therefore exports the FULL range
    store.export_incremental({"wm_t": cells}, other, "chain_b", end_time=T3 + 1)
    restored = spark.read.parquet(snapshot_path(other, "chain_b", "wm_t"))
    full = scan_export(cells, 0, T3 + 1).count()
    assert restored.count() == full


def test_fingerprint_validates_roundtrip_and_detects_loss(spark, store, dest):
    """Content fingerprint (operators/validate.py): export→import must
    preserve (count, xor-fingerprint); dropping any row must change it.
    This is the content-level check the reference's name-set validation
    (import.rb:54-63) cannot make."""
    from pyspark.sql import functions as F

    from hbacker_spark.operators.validate import table_fingerprint

    cells = make_cells(spark)
    cols = [
        F.col("row_key"),
        F.col("cf"),
        F.col("qualifier"),
        F.col("ts").cast("string"),
        F.col("value"),
    ]
    store.export_tables({"t_fp": cells}, dest, "20110103_000000", 0, T3 + 1)
    restored = store.import_tables(dest, "20110103_000000", "20110103_010000")["t_fp"]

    src_fp = table_fingerprint(cells, cols).collect()[0]
    dst_fp = table_fingerprint(restored, cols).collect()[0]
    assert (src_fp["n_rows"], src_fp["fingerprint"]) == (dst_fp["n_rows"], dst_fp["fingerprint"])

    # any lost row flips the fingerprint even when another keeps the count plausible
    lost = restored.limit(restored.count() - 1)
    bad_fp = table_fingerprint(lost, cols).collect()[0]
    assert bad_fp["fingerprint"] != src_fp["fingerprint"] or bad_fp["n_rows"] != src_fp["n_rows"]


def test_pitr_includes_clean_tables_of_mixed_error_session(spark, store, dest, monkeypatch):
    """ADVICE r8 (high): a session that errors on a LATER table must not
    hide the increments of tables it already exported cleanly. Session
    s_mixed exports t fine, then fails on u — the session row is
    error=True (C2 bracketing), but t's clean table row proves its dir
    was committed, so the derived PITR set must still include s_mixed
    (or the restore silently returns stale cells while the watermark
    has already advanced past the range)."""
    from hbacker_spark.operators import snapshots as S

    cells = make_cells(spark)
    store.export_tables({"t": cells, "u": cells}, dest, "s_full", 0, T2)

    real_write = S.SnapshotStore._write_snapshot

    def fail_u(self, snap, dest_path):
        if dest_path.rstrip("/").endswith("/u"):
            raise ValueError("permanent: simulated failure on table u")
        return real_write(self, snap, dest_path)

    monkeypatch.setattr(S.SnapshotStore, "_write_snapshot", fail_u)
    with pytest.raises(ValueError, match="table u"):
        store.export_tables({"t": cells, "u": cells}, dest, "s_mixed", T2, T3 + 1)
    monkeypatch.setattr(S.SnapshotStore, "_write_snapshot", real_write)

    srow = {r["session_name"]: r for r in store.catalog.session_info("export").collect()}
    assert srow["s_mixed"]["error"] is True  # the bracketing did fire

    # the watermark for t HAS advanced through s_mixed — so the derived
    # restore set must include it or the range is lost forever
    wm = {r["table_name"]: r["next_start_time"]
          for r in store.catalog.next_start_times(dest_root=dest)}
    assert wm["t"] == T3 + 1
    assert wm["u"] == T2  # failed table's watermark did NOT advance

    names = [r["session_name"]
             for r in store.catalog.restore_sessions("t", dest, T3 + 1)]
    assert names == ["s_full", "s_mixed"], (
        "mixed-error session's clean increments were pruned from the restore set"
    )
    derived = store.restore_point_in_time("t", dest, cutoff_ts=T3 + 1)
    explicit = store.restore_point_in_time(
        "t", dest, ["s_full", "s_mixed"], cutoff_ts=T3 + 1
    )
    assert sorted(map(tuple, derived.collect())) == sorted(map(tuple, explicit.collect()))
    # and u restores only its clean prefix
    assert [r["session_name"]
            for r in store.catalog.restore_sessions("u", dest, T3 + 1)] == ["s_full"]


def test_pitr_cutoff_required_and_positive(spark, store, dest):
    """ADVICE r8 (low): cutoff_ts is keyword-only REQUIRED — an omitted
    cutoff on the explicit-session path used to default to 0 and return
    a silently empty restore; non-positive cutoffs are rejected."""
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T3 + 1)
    with pytest.raises(TypeError):
        store.restore_point_in_time("t", dest, ["s_full"])  # no cutoff_ts
    with pytest.raises(ValueError, match="positive"):
        store.restore_point_in_time("t", dest, ["s_full"], cutoff_ts=0)
    with pytest.raises(ValueError, match="max_versions must be >= 1"):
        store.restore_point_in_time("t", dest, ["s_full"], cutoff_ts=T3, max_versions=0)


def test_restore_chain_isolation_same_second_session_names(spark, store, dest, tmp_path):
    """ADVICE r8 (low): mint_session_name is second-granularity, so two
    chains CAN share a session_name. Table rows now carry dest_root, so
    one chain's restore set never pulls the other chain's ranges in."""
    cells = make_cells(spark)
    other = str(tmp_path / "other_chain")
    # same session name, two different chains, different ranges
    store.export_tables({"t": cells}, dest, "s_same", 0, T2)
    store.export_tables({"t": cells}, other, "s_same", 0, T3 + 1)

    rows = store.catalog.restore_sessions("t", dest, T3 + 1)
    assert len(rows) == 1, "other chain's table row leaked into this chain's restore set"
    assert rows[0]["end_time"] == T2
    rows_b = store.catalog.restore_sessions("t", other, T3 + 1)
    assert len(rows_b) == 1 and rows_b[0]["end_time"] == T3 + 1

    # watermarks are isolated per chain too, despite the shared name
    wm_a = {r["table_name"]: r["next_start_time"]
            for r in store.catalog.next_start_times(dest_root=dest)}
    wm_b = {r["table_name"]: r["next_start_time"]
            for r in store.catalog.next_start_times(dest_root=other)}
    assert wm_a["t"] == T2 and wm_b["t"] == T3 + 1


def test_pitr_long_chain_single_scan(spark, store, dest):
    """VERDICT r8 #3: the restore plan must carry ONE multi-path parquet
    scan, not an N-way union — on a ~200-increment chain the old
    per-session unionByName paid plan analysis per session. Asserted on
    the physical plan (one scan node, no Union) and on correctness."""
    import shutil
    import time as _time

    from hbacker_spark.plans import explain as X

    rows = [(f"row{rk:03d}", "cf", "q", T1 + rk, f"v{rk}") for rk in range(8)]
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    first = snapshot_path(dest, "s000", "t")
    cells.write.parquet(first)
    n_sessions = 200
    for i in range(1, n_sessions):
        shutil.copytree(first, snapshot_path(dest, f"s{i:03d}", "t"))
    names = [f"s{i:03d}" for i in range(n_sessions)]

    t0 = _time.monotonic()
    restored = store.restore_point_in_time("t", dest, names, cutoff_ts=T3)
    plan = X.explain_str(restored)
    analysis_s = _time.monotonic() - t0
    # one scan NODE: formatted explain lists each node once in the tree
    # ("Scan parquet (1)") and once in the detail section ("(1) Scan parquet")
    import re

    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.MULTILINE)
    assert len(scan_nodes) == 1, plan
    assert "Union" not in plan, plan
    # analysis cost is O(1) in chain length — generous VM-noise bound,
    # but the old N-way union took tens of seconds at this N
    assert analysis_s < 20, f"plan construction took {analysis_s:.1f}s"
    # every dir is identical → latest-version-wins returns one copy
    got = sorted(map(tuple, restored.collect()))
    assert got == sorted(map(tuple, cells.collect()))
    read_files = set(restored.inputFiles())
    assert len({f.split("/t/")[0] for f in read_files}) == n_sessions


def test_concurrent_export_tables_pool(spark, store, dest):
    """VERDICT r9 #2: 8 tables at max_concurrent=4 — the reference's
    4-16 worker pool (README.textile:120-121) as a bounded driver
    thread pool. Every table must land a complete catalog row AND a
    snapshot dir, the session must bracket clean, and the result must
    equal a serial export of the same tables."""
    import os

    cells = make_cells(spark)
    tables = {f"pool_t{i}": cells for i in range(8)}
    store.export_tables(tables, dest, "20110301_000000", 0, T3, max_concurrent=4)

    rows = {r["table_name"]: r for r in store.catalog.list_table_info("20110301_000000").collect()}
    assert set(rows) == set(tables)
    assert all(not r["error"] and not r["empty"] for r in rows.values())
    for t in tables:
        p = snapshot_path(dest, "20110301_000000", t)
        assert os.path.isdir(p), f"missing snapshot dir for {t}"
        assert spark.read.parquet(p).count() == cells.filter(F.col("ts") < T3).count()
    sess = store.catalog.session_info("export").filter(F.col("session_name") == "20110301_000000").collect()[0]
    assert sess["ended_at"] is not None and sess["error"] is False

    # parity with the serial path: same per-table row counts
    store.export_tables(tables, dest, "20110301_000001", 0, T3)
    serial = {
        r["table_name"]: (r["start_time"], r["end_time"], r["empty"], r["error"])
        for r in store.catalog.list_table_info("20110301_000001").collect()
    }
    pooled = {
        t: (r["start_time"], r["end_time"], r["empty"], r["error"]) for t, r in rows.items()
    }
    assert pooled == serial

    # round-trip through the pooled import path too
    out = store.import_tables(dest, "20110301_000000", "20110302_000000", max_concurrent=4)
    assert set(out) == set(tables)
    assert out["pool_t3"].count() == cells.filter(F.col("ts") < T3).count()


def test_concurrent_export_error_still_completes_others(spark, store, dest, monkeypatch):
    """Pool error contract: a permanently-failing table marks its own
    catalog row and the session as errored, but the OTHER in-flight
    tables still complete their snapshot dirs and clean rows (the
    reference's per-job 'bury', worker.rb:28-48 — one poisoned table
    must not strand the rest of a 4-wide fleet)."""
    import os

    cells = make_cells(spark)
    orig = SnapshotStore._write_snapshot

    def failing(self, snap, dest_path):
        if "bad_t" in dest_path:
            raise ValueError("permanent schema corruption")
        return orig(self, snap, dest_path)

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", failing)
    tables = {"ok_t0": cells, "bad_t": cells, "ok_t1": cells, "ok_t2": cells}
    with pytest.raises(ValueError, match="permanent"):
        store.export_tables(tables, dest, "20110303_000000", 0, T3, max_concurrent=4)

    rows = {r["table_name"]: r for r in store.catalog.list_table_info("20110303_000000").collect()}
    assert set(rows) == set(tables)
    assert rows["bad_t"]["error"] is True
    for t in ("ok_t0", "ok_t1", "ok_t2"):
        assert rows[t]["error"] is False
        assert os.path.isdir(snapshot_path(dest, "20110303_000000", t))
    sess = store.catalog.session_info("export").filter(F.col("session_name") == "20110303_000000").collect()[0]
    assert sess["error"] is True and "permanent" in sess["error_info"]


def test_full_backup_cycle_on_nonlocal_scheme(spark, tmp_path):
    """The whole deployment on a non-local Hadoop scheme (VERDICT r9 #1
    end-to-end): catalog root AND snapshot dest_root on a viewfs://
    mount — export (S1-S3, incl. log artifacts), catalog bracketing,
    import (S8-S10), incremental chain, and point-in-time restore all
    round-trip without any driver-local path assumption (os.path.exists
    on viewfs URIs is always False; os.rename raises)."""
    from hbacker_spark.catalog.catalog import Catalog

    backing = tmp_path / "vfs_cycle"
    backing.mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.snapcycle.link./root", f"file://{backing}"
    )
    cat = Catalog(spark, "viewfs://snapcycle/root/catalog")
    store = SnapshotStore(spark, cat)
    dest = "viewfs://snapcycle/root/backups"
    cells = make_cells(spark)

    # full export of 2 tables at T2, then an incremental to T3
    store.export_tables({"vt1": cells, "vt2": cells}, dest, "20110401_000000", 0, T2)
    store.export_incremental({"vt1": cells, "vt2": cells}, dest, "20110402_000000", end_time=T3)

    rows = {(r["table_name"], r["session_name"]): r for r in cat.read("tables").collect()}
    assert len(rows) == 4 and not any(r["error"] for r in rows.values())
    assert rows[("vt1", "20110402_000000")]["start_time"] == T2  # watermark chained

    # import the full session back
    out = store.import_tables(dest, "20110401_000000", "20110403_000000")
    assert set(out) == {"vt1", "vt2"}
    assert out["vt1"].count() == cells.filter(F.col("ts") < T2).count()

    # PITR across the chain == latest-version-wins ground truth
    got = store.restore_point_in_time("vt1", dest, cutoff_ts=T3 - 1, max_versions=1)
    want = version_limited(cells.filter(F.col("ts") <= T3 - 1), 1)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # the export log artifact landed beside the data, on the viewfs scheme
    from hbacker_spark.sources import storage

    log = storage.read_info(spark, f"{dest}/20110401_000000/vt1_export_log.txt")
    status, _, detail = log.strip().partition(": ")
    fields = dict(kv.split("=") for kv in detail.split())
    assert status == "export_ok"
    source = scan_export(cells, 0, T2).agg(F.count("*"), F.min("ts"), F.max("ts")).first()
    assert (int(fields["rows"]), int(fields["min_ts"]), int(fields["max_ts"])) == tuple(source)


def test_fail_fast_cancels_pending_and_attaches_resume_map(spark, store, dest, monkeypatch):
    """ADVICE r10: with fail_fast=True a SYSTEMIC failure (every table
    would hit it) cancels the not-yet-started tail of the fleet instead
    of grinding a thousands-of-tables run to completion first; the
    raised exception carries the succeeded map + skipped list so the
    caller can resume the remainder. Default (bury) behavior is pinned
    by test_concurrent_export_error_still_completes_others."""
    import threading
    import pytest as _pytest

    cells = make_cells(spark)
    started: list[str] = []
    lock = threading.Lock()
    orig = SnapshotStore._write_snapshot

    def systemic(self, snap, dest_path):
        with lock:
            started.append(dest_path)
        if "t00" not in dest_path:
            raise ConnectionRefusedError("dest_root unreachable")
        return orig(self, snap, dest_path)

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", systemic)
    tables = {f"t{i:02d}": cells for i in range(12)}
    with _pytest.raises(Exception) as ei:
        store.export_tables(
            tables, dest, "20110501_000000", 0, T3,
            max_concurrent=2, fail_fast=True,
        )
    ex = ei.value
    # resume metadata attached (ADVICE r10): succeeded dict + skipped list
    assert hasattr(ex, "succeeded") and hasattr(ex, "skipped")
    assert set(ex.succeeded) | set(ex.skipped) <= set(tables)
    # the fleet stopped early: some tables were never even started
    assert ex.skipped, "fail_fast should cancel the not-yet-started tail"
    assert len(started) < len(tables)
    # session bracketed as errored (same contract as the bury path)
    sess = store.catalog.session_info("export").filter(
        F.col("session_name") == "20110501_000000"
    ).collect()[0]
    assert sess["error"] is True


def test_resume_map_attach_survives_slots_exceptions(store):
    """ADVICE r11: the resume-map attach is attribute assignment on an
    arbitrary exception; a ``__slots__`` exception class rejects it, and
    the AttributeError raised INSIDE the except handler used to mask the
    original per-table error. Pin: the original exception propagates
    (no resume map, but no masking) on both the serial and pooled path."""
    import pytest as _pytest

    class SlotsError(Exception):
        # A pure-Python ``__slots__ = ()`` subclass still inherits
        # BaseException's ``__dict__``, so to pin the failure mode the
        # class must actively reject assignment — the same AttributeError
        # a C-implemented slotted exception raises.
        def __setattr__(self, name, value):
            raise AttributeError(f"SlotsError rejects attribute {name!r}")

    def job(t):
        if t == "bad":
            raise SlotsError("original per-table failure")
        return t

    for kwargs in ({"max_concurrent": 1}, {"max_concurrent": 2, "fail_fast": True}):
        with _pytest.raises(SlotsError, match="original per-table failure"):
            store._run_table_jobs(["ok", "bad"], job, **kwargs)


def test_resume_keys_on_chain_not_session_name(spark, store, dest, tmp_path):
    """Session names are second-granularity and collide across chains: a
    resume in chain B must not skip a table because chain A recorded it
    under the same session name (the C6 probe keys on the chain)."""
    cells = make_cells(spark)
    other = str(tmp_path / "chain_b")
    store.export_tables({"t": cells}, dest, "s_same", 0, T3 + 1)
    store.catalog.start_info("export", store.cluster_name, "s_same", other, 0, T3 + 1)
    assert store.export_table(cells, "t", other, "s_same", 0, T3 + 1, resume=True) is True
    # and a second resume in chain B does skip: now B has the row
    assert store.export_table(cells, "t", other, "s_same", 0, T3 + 1, resume=True) is False
    got = store.restore_point_in_time("t", other, cutoff_ts=T3 + 1)
    want = version_limited(cells, 1)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_import_reads_own_chain_table_row(spark, store, dest, tmp_path, monkeypatch):
    """import_table's latest-row lookup keys on the chain: chain B's
    later error row under the same session name must not fail an import
    of chain A's clean export."""
    cells = make_cells(spark)
    other = str(tmp_path / "chain_b")
    store.export_tables({"t": cells}, dest, "s_same", 0, T3 + 1)

    def broken(self, snap, dest_path):
        raise ValueError("permanent: chain B write failed")

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", broken)
    with pytest.raises(ValueError, match="chain B"):
        store.export_tables({"t": cells}, other, "s_same", 0, T3 + 1)
    monkeypatch.undo()

    out = store.import_tables(dest, "s_same", "s_imp")
    assert sorted(map(tuple, out["t"].collect())) == sorted(map(tuple, cells.collect()))


def _spark_jobs(spark, group, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_export_is_one_pass(spark, store, dest, tmp_path):
    """export_table launches exactly the jobs of a bare write of its
    scan_export plan — for a range with rows and for an empty range (no
    separate emptiness probe re-running the scan and the window)."""
    import os

    cells = make_cells(spark)
    for session, lo, hi in (("s_rows", 0, T3 + 1), ("s_empty", T3 + 1, T3 + 1000)):
        bare = _spark_jobs(
            spark, f"bare-{session}",
            lambda: scan_export(cells, lo, hi).write.parquet(str(tmp_path / f"bare_{session}")),
        )
        export = _spark_jobs(
            spark, f"export-{session}",
            lambda: store.export_table(cells, "t", dest, session, lo, hi),
        )
        assert bare > 0 and export == bare, (session, export, bare)
    rows = {r["session_name"]: r for r in store.catalog.read("tables").collect()}
    assert rows["s_rows"]["empty"] is False and rows["s_empty"]["empty"] is True
    assert not os.path.exists(snapshot_path(dest, "s_empty", "t"))


def test_empty_increment_permanent_failure_is_buried(spark, store, dest, monkeypatch):
    """The write runs for an empty range too, so a permanent failure there
    is recorded (error=True) and the table's watermark holds."""
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T3 + 1)

    def broken(self, snap, dest_path):
        raise ValueError("permanent: empty increment write failed")

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", broken)
    with pytest.raises(ValueError, match="empty increment"):
        store.export_incremental({"t": cells}, dest, "s_incr", end_time=T3 + 1000)
    row = store.catalog.table_info("t", "s_incr", dest)
    assert row["error"] is True and row["empty"] is False
    wm = {r["table_name"]: r["next_start_time"] for r in store.catalog.next_start_times(dest_root=dest)}
    assert wm == {"t": T3 + 1}


def test_empty_increment_transient_failure_retried(spark, store, dest, monkeypatch):
    """A transient failure on an empty range is retried; the table is
    recorded empty and keeps no snapshot directory."""
    import os

    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T3 + 1)
    real_write = SnapshotStore._write_snapshot
    calls = {"n": 0}

    def flaky(self, snap, dest_path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConnectionError("connection reset by peer (simulated)")
        return real_write(self, snap, dest_path)

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", flaky)
    store.export_incremental({"t": cells}, dest, "s_incr", end_time=T3 + 1000)
    assert calls["n"] == 2
    row = store.catalog.table_info("t", "s_incr", dest)
    assert row["empty"] is True and row["error"] is False
    assert not os.path.exists(snapshot_path(dest, "s_incr", "t"))
    wm = {r["table_name"]: r["next_start_time"] for r in store.catalog.next_start_times(dest_root=dest)}
    assert wm == {"t": T3 + 1000}


def test_permanent_failure_clears_partial_output(spark, store, dest, monkeypatch):
    """The bury path deletes what the failed write left behind, so no
    directory survives that no clean catalog row points at."""
    import os

    cells = make_cells(spark)
    real_write = SnapshotStore._write_snapshot

    def fails_after_writing(self, snap, dest_path):
        real_write(self, snap, dest_path)
        raise ValueError("permanent: failed after the data landed")

    monkeypatch.setattr(SnapshotStore, "_write_snapshot", fails_after_writing)
    with pytest.raises(ValueError, match="after the data landed"):
        store.export_table(cells, "t", dest, "s1", 0, T3 + 1)
    assert not os.path.exists(snapshot_path(dest, "s1", "t"))
    rows = store.catalog.read("tables").collect()
    assert len(rows) == 1 and rows[0]["error"] is True


def test_versions_below_one_rejected_before_any_row(spark, store, dest):
    """versions=0 would write nothing, record the table ``empty`` and
    advance the watermark past cells it never wrote. It is refused
    before any table row lands, so the watermark stays put."""
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T2)

    def watermarks():
        return {r["table_name"]: r["next_start_time"] for r in store.catalog.next_start_times(dest_root=dest)}

    before = watermarks()
    n_rows = store.catalog.read("tables").count()
    with pytest.raises(ValueError, match="versions must be >= 1"):
        store.export_incremental({"t": cells}, dest, "s_inc", end_time=T3 + 1, versions=0)
    with pytest.raises(ValueError, match="versions must be >= 1"):
        store.export_table(cells, "t", dest, "s_direct", T2, T3 + 1, versions=0)
    with pytest.raises(ValueError, match="versions must be >= 1"):
        store.export_tables({"t": cells}, dest, "s_tables", T2, T3 + 1, versions=-1)
    assert store.catalog.read("tables").count() == n_rows
    assert watermarks() == before == {"t": T2}


def test_restore_compiles_once_across_cutoffs(spark, store, dest):
    """The cutoff is bound by reference, so a second restore at a NEW
    cutoff reuses the first one's generated classes: no Janino compile."""
    cells = make_cells(spark)
    store.export_tables({"t": cells}, dest, "s_full", 0, T2)
    store.export_incremental({"t": cells}, dest, "s_inc", end_time=T3 + 1)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    first = store.restore_point_in_time("t", dest, cutoff_ts=T2 + 1000).collect()
    cutoff = T3 - 1000
    second = store.restore_point_in_time("t", dest, cutoff_ts=cutoff)
    before = compiles.getCount()
    got = second.collect()
    assert compiles.getCount() - before == 0
    expected = version_limited(cells.filter(F.col("ts") <= cutoff), 1)
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected.collect())) != sorted(map(tuple, first))


def test_pitr_cutoff_below_int_range(spark, store, dest):
    """A cutoff below 2^31 is an INT literal in PySpark; the restore
    filter must still compare it as a LONG, on both session paths."""
    rows = [(f"row{i % 7:03d}", "cf", "q", 1000 + i, f"v{i}") for i in range(50)]
    cells = spark.createDataFrame(rows, CELLS_SCHEMA)
    store.export_tables({"t": cells}, dest, "s_full", 0, 1025)
    store.export_incremental({"t": cells}, dest, "s_inc", end_time=2000)
    expected = version_limited(cells.filter(F.col("ts") <= 1040), 1)
    for names in (None, ["s_full", "s_inc"]):
        restored = store.restore_point_in_time("t", dest, names, cutoff_ts=1040)
        assert sorted(map(tuple, restored.collect())) == sorted(map(tuple, expected.collect()))


def test_pitr_never_restores_null_ts_cell(spark, store, dest):
    """A hand-written, catalog-less snapshot holding a cell with a NULL
    ``ts``: the cutoff drops it (struct ordering alone would sort NULL
    first and keep it)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = snapshot_path(dest, "s_dump", "t")
    os.makedirs(path)
    table = pa.table(
        {
            "row_key": ["row000", "row001", "ghost"],
            "cf": ["cf"] * 3,
            "qualifier": ["q"] * 3,
            "ts": pa.array([T1, T2, None], pa.int64()),
            "value": ["a", "b", "never"],
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    restored = store.restore_point_in_time("t", dest, ["s_dump"], cutoff_ts=T3)
    assert sorted(map(tuple, restored.collect())) == [
        ("row000", "cf", "q", T1, "a"),
        ("row001", "cf", "q", T2, "b"),
    ]
