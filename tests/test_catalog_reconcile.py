"""Two-writer catalog commit reconciliation (VERDICT r11 #3).

On advisory-fence schemes (pre-conditional-create object stores) two
catalog writers can both get past the fence and both commit — r11's
behavior was last-version-wins, the loser's rows retired with its
version. These tests pin the r12 contract: a conflicting version is
DETECTED at commit (expected-parent mismatch), its net-new rows fold
into the committing writer's version (union for the append-only tables,
per-key freshest-update merge for ``sessions``), the merge is stamped
into the commit marker (loud in version history), and appends that land
in a version being swapped out re-land in the new current — zero lost
catalog rows either way.

The races are made deterministic by driving the internals directly (the
fence is what normally prevents them; it is atomic in-process and on
local/HDFS, so the advisory double-win must be simulated), plus one
fence-disabled thread-race stress as the end-to-end receipt.
"""

from __future__ import annotations

import threading
import warnings
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from hbacker_spark.catalog.catalog import Catalog
from hbacker_spark.sources import storage

CLUSTER = "test_cluster"
DEST = "file:///dest"


@pytest.fixture
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "cat"))


def _start(cat: Catalog, name: str) -> None:
    cat.start_info("export", CLUSTER, name, DEST, 0, 0)


def _end_rows(rows, session_name, ended):
    key = ("export", CLUSTER, session_name, DEST)
    for r in rows:
        if (r["mode"], r["cluster_name"], r["session_name"], r["dest_root"]) == key:
            r.update(ended_at=ended, updated_at=ended)
    return rows


def test_stale_overwrite_folds_concurrent_commit(catalog, spark):
    """Deterministic double-write: writer B bases its rewrite on parent
    version P; writer A commits an end_info for a DIFFERENT session
    after B's read. B's commit must detect A's version via the parent
    mismatch and fold A's update in — BOTH sessions end up ended, and
    the commit marker records the merge."""
    from datetime import datetime, timezone

    _start(catalog, "sA")
    _start(catalog, "sB")

    # writer B reads (parent captured), builds its rewrite, but has not
    # committed yet — the advisory-fence double-win window
    rows_b, parent, _ = catalog._read_snapshot("sessions")
    ended = datetime.now(timezone.utc).replace(tzinfo=None)
    stale_b = _end_rows(rows_b, "sB", ended)

    # writer A commits normally in the window
    catalog.end_info("export", CLUSTER, "sA", DEST)

    # r13 (ADVICE r12, low): the old `pytest.warns(...) if False else`
    # ternary was dead code — and this reconciliation arm is in fact
    # silent (verified: no RuntimeWarning is emitted here), so the
    # honest form is the plain suppress context, not a warns assert.
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        catalog._overwrite("sessions", stale_b, parent)

    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    assert set(rows) == {"sA", "sB"}, "a session row was lost"
    assert rows["sA"]["ended_at"] is not None, "concurrent writer A's update lost"
    assert rows["sB"]["ended_at"] is not None, "writer B's own update lost"

    # the conflict is loud in version history: B's marker carries merged=
    path = catalog._path("sessions")
    vs = storage.committed_versions(spark, path)
    marker = storage.read_info(spark, f"{path}/_v{vs[-1]:06d}.commit")
    assert "merged=[" in marker, marker


def test_stale_overwrite_folds_concurrent_append(catalog, spark):
    """Writer B's rewrite raced a plain APPEND that landed a new session
    row after B's read but into B's parent version (so B's df never saw
    it). The fold must union the appended row back in."""
    _start(catalog, "sA")
    rows_b, parent, _ = catalog._read_snapshot("sessions")
    rows_b = [dict(r, error=False) for r in rows_b]  # identity-ish rewrite
    # append lands after B's read; then ANOTHER writer swaps (end_info),
    # carrying the appended row into version parent+1
    _start(catalog, "sNEW")
    catalog.end_info("export", CLUSTER, "sA", DEST)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        catalog._overwrite("sessions", rows_b, parent)
    names = {r["session_name"] for r in catalog.read("sessions").collect()}
    assert names == {"sA", "sNEW"}, f"appended row lost: {names}"


def test_append_relands_after_version_swap(catalog, spark, monkeypatch):
    """An append that landed its file in a version dir that a concurrent
    rewrite was ALREADY superseding must detect the swap and re-land in
    the new current version (VERDICT r11 #3, append side)."""
    _start(catalog, "sA")
    path = catalog._path("sessions")
    stale_dir = storage.resolve_data_dir(spark, path)
    # a concurrent end_info publishes a new version; stale_dir is grace
    catalog.end_info("export", CLUSTER, "sA", DEST)
    assert storage.resolve_data_dir(spark, path) != stale_dir

    # force the next append to resolve the STALE dir (simulating the
    # append racing the swap on an advisory scheme)
    orig = Catalog._data_dir
    hits = {"n": 0}

    def stale_once(self, table):
        if table == "sessions" and hits["n"] == 0:
            hits["n"] = 1
            return stale_dir
        return orig(self, table)

    monkeypatch.setattr(Catalog, "_data_dir", stale_once)
    with pytest.warns(RuntimeWarning, match="re-landing"):
        _start(catalog, "sLATE")

    rows = catalog.read("sessions").filter(F.col("session_name") == "sLATE")
    assert rows.count() == 1, "raced append must land exactly once in current"


def test_fence_disabled_thread_race_loses_no_rows(catalog, spark, monkeypatch):
    """End-to-end advisory-mode receipt: with the fence a NO-OP (both
    writers always 'win', the S3A-without-conditional-create worst
    case), an appender thread races an end_info swapper thread — every
    appended session row survives and every end_info lands."""
    # r14 (VERDICT r13 #1): widen the reconciliation budget for this
    # deliberately fence-disabled race. The default 5 rounds assumes a
    # real fence; here every one of the 6 appends can trickle into a
    # different reconciliation round when the host is loaded (each round
    # is a full Spark write), so the swapper needs headroom proportional
    # to the append count, not the fenced-deployment constant. The
    # workload is finite (6 appends, 3 swaps), so 25 rounds makes
    # convergence deterministic without masking real non-convergence.
    monkeypatch.setenv("SPARK_GRAFT_RECONCILE_ROUNDS", "25")

    @contextmanager
    def no_fence(table, wait_s=0.0):
        yield

    monkeypatch.setattr(catalog, "_swap_fence", no_fence)

    for i in range(3):
        _start(catalog, f"base{i}")
    errs: list[BaseException] = []

    def appender():
        try:
            for i in range(6):
                _start(catalog, f"new{i}")
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)

    def swapper():
        try:
            for i in range(3):
                catalog.end_info("export", CLUSTER, f"base{i}", DEST)
        except BaseException as ex:  # noqa: BLE001
            errs.append(ex)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        t1 = threading.Thread(target=appender)
        t2 = threading.Thread(target=swapper)
        t1.start(), t2.start()
        t1.join(300), t2.join(300)
    assert not errs, errs[:3]

    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    expect = {f"base{i}" for i in range(3)} | {f"new{i}" for i in range(6)}
    assert set(rows) == expect, f"lost rows: {expect - set(rows)}"
    for i in range(3):
        assert rows[f"base{i}"]["ended_at"] is not None, f"base{i} end lost"


def test_reconcile_rounds_knob(monkeypatch):
    """The reconciliation budget is env-tunable at CALL time (r14): the
    default is the module constant, and SPARK_GRAFT_RECONCILE_ROUNDS
    overrides it without a re-import (what the fence-disabled race test
    above relies on)."""
    from hbacker_spark.catalog import catalog as cat_mod

    monkeypatch.delenv("SPARK_GRAFT_RECONCILE_ROUNDS", raising=False)
    assert cat_mod._reconcile_rounds() == cat_mod.RECONCILE_ROUNDS_DEFAULT
    monkeypatch.setenv("SPARK_GRAFT_RECONCILE_ROUNDS", "25")
    assert cat_mod._reconcile_rounds() == 25


def test_compact_purge_retires_grace_immediately(catalog, spark):
    """VERDICT r11 #5 (catalog twin): compact(purge=True) leaves ONLY
    the fresh version on disk — the pre-edit bytes in the grace copy are
    gone right after the call, not at the next organic swap."""
    _start(catalog, "sA")
    catalog.end_info("export", CLUSTER, "sA", DEST)  # creates grace copies
    path = catalog._path("sessions")
    assert len(storage.committed_versions(spark, path)) >= 2

    catalog.compact("sessions", purge=True)
    vs = storage.committed_versions(spark, path)
    assert len(vs) == 1, vs
    names = {e["name"] for e in storage.list_path(spark, path)}
    assert names == {f"v{vs[0]:06d}", f"_v{vs[0]:06d}.commit"}, names
    # state intact after the purge
    rows = catalog.read("sessions").collect()
    assert len(rows) == 1 and rows[0]["ended_at"] is not None


@pytest.mark.slow
def test_fence_disabled_soak_no_silent_loss(catalog, spark, monkeypatch):
    """Soak of the advisory-mode contract in the SUPPORTED deployment
    shape — N fleet workers appending rows while ONE master brackets
    sessions with read-modify-swaps (the reference's topology: worker
    processes + a single master; export.rb:96) — fence a NO-OP, so
    every interleaving the scheme allows actually happens. Guarantee:
    zero silent loss — every operation that reported success is visible
    at the end. Runs at a production-like retention TTL (the r12
    finding: TTL=0 plus reconciliation churn retires files mid-fold;
    with the TTL the grace window does its job).

    Two concurrent SWAPPERS are deliberately out of scope: multiple
    read-modify-swap writers on an advisory scheme are best-effort by
    contract (bounded fold ping-pong, loud CatalogContentionError, no
    retirement during reconciliation so rows stay recoverable) — pinned
    by the error-message contract, not by this soak."""
    monkeypatch.setenv("SPARK_GRAFT_VERSION_TTL_S", "600")

    @contextmanager
    def no_fence(table, wait_s=0.0):
        yield

    monkeypatch.setattr(catalog, "_swap_fence", no_fence)
    for i in range(4):
        _start(catalog, f"base{i}")

    landed_appends: list[str] = []
    landed_ends: list[str] = []
    loud: list[BaseException] = []
    lock = threading.Lock()

    def appender(tid: int):
        for i in range(5):
            name = f"a{tid}_{i}"
            try:
                _start(catalog, name)
                with lock:
                    landed_appends.append(name)
            except Exception as ex:  # noqa: BLE001 — loud is allowed
                with lock:
                    loud.append(ex)

    def swapper():
        for i in range(4):
            try:
                catalog.end_info("export", CLUSTER, f"base{i}", DEST)
                with lock:
                    landed_ends.append(f"base{i}")
            except Exception as ex:  # noqa: BLE001
                with lock:
                    loud.append(ex)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        threads = [threading.Thread(target=appender, args=(t,)) for t in range(3)]
        threads.append(threading.Thread(target=swapper))
        for t in threads:
            t.start()
        for t in threads:
            t.join(600)

    rows = {r["session_name"]: r for r in catalog.read("sessions").collect()}
    # every append that REPORTED success must be present — zero silent loss
    missing = [n for n in landed_appends if n not in rows]
    assert not missing, f"silently lost appends: {missing}"
    # every end_info that reported success must be visible
    unended = [n for n in set(landed_ends) if rows[n]["ended_at"] is None]
    assert not unended, f"silently lost end_info updates: {unended}"
    # loud failures are permitted by the contract, but must name it
    for ex in loud:
        assert "single-writer" in str(ex) or "converge" in str(ex) or \
            "serialize" in str(ex), ex
