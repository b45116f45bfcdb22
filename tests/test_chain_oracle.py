"""Property-based oracle for the backup chain (export → incrementals →
point-in-time restore / import), checked against a pure-Python model.

Hypothesis generates whole chains: 1-3 tiny cells tables, 2-3 export
sessions with random appends (and increments that are empty for some
tables), transient and permanent ``_write_snapshot`` failures injected
on random (session, table) pairs, and a serial or 3-wide table pool.
Every ``restore_point_in_time`` at cutoffs on and between session edges
must equal the model's truth — the newest version per cell key with
``ts <= cutoff`` among the cells a clean export covered — and every
``import_tables`` of a session must return exactly that session's
range. The catalog invariants are checked on the same chain: per-table
watermarks, ``restore_sessions`` pruning at every candidate cutoff, and
one session row per export bracket with ``ended_at`` set and the right
``error`` flag.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hbacker_spark.catalog.catalog import Catalog
from hbacker_spark.operators.snapshots import CELLS_SCHEMA, SnapshotStore

SESSION_SPAN = 100  # session i exports ts in [W, (i + 1) * SESSION_SPAN)
TABLES = ("t0", "t1", "t2")
FAILURES = ("none", "none", "none", "transient", "permanent")


@st.composite
def chains(draw):
    n_tables = draw(st.integers(1, 3))
    n_sessions = draw(st.integers(2, 3))
    tables = TABLES[:n_tables]
    edges = [(s + 1) * SESSION_SPAN for s in range(n_sessions)]
    # cell timestamps anywhere, with extra weight on the last ts of a
    # session's range and the first ts of the next one
    ts_st = st.one_of(
        st.integers(1, edges[-1] - 1),
        st.sampled_from([e + d for e in edges[:-1] for d in (-1, 0)]),
    )
    cells = {}
    for t in tables:
        keys = draw(
            st.sets(
                st.tuples(
                    st.integers(0, 2),  # row key
                    st.sampled_from(("qa", "qb")),  # qualifier
                    ts_st,
                ),
                max_size=8,
            )
        )
        cells[t] = sorted((f"r{rk}", "cf", q, ts, f"{t}-{rk}-{q}@{ts}") for rk, q, ts in keys)
    failures = {
        (s, t): draw(st.sampled_from(FAILURES)) for s in range(n_sessions) for t in tables
    }
    candidates = sorted(
        {e + d for e in edges for d in (-1, 0, 1)} | {e - SESSION_SPAN // 2 for e in edges}
    )
    cutoffs = draw(st.lists(st.sampled_from(candidates), min_size=1, max_size=2, unique=True))
    pool = draw(st.sampled_from((1, 3)))
    return tables, n_sessions, cells, failures, candidates, cutoffs, pool


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


def _run_chain(spark, tmp, tables, n_sessions, cells, failures, pool):
    """Export the chain and return the model: per (session, table) the
    outcome and its [start, end) range, plus per-session error flags."""
    store = SnapshotStore(spark, Catalog(spark, f"{tmp}/catalog"))
    dest = f"{tmp}/backups"
    frames = {t: spark.createDataFrame(cells[t], CELLS_SCHEMA) for t in tables}
    real_write = SnapshotStore._write_snapshot
    attempts: dict[tuple[int, str], int] = {}

    def injected(self, snap, path):
        s, t = int(path.rstrip("/").split("/")[-2][1:]), path.rstrip("/").split("/")[-1]
        attempts[(s, t)] = attempts.get((s, t), 0) + 1
        kind = failures[(s, t)]
        if kind == "permanent":
            raise ValueError(f"permanent: injected on s{s}/{t}")
        if kind == "transient" and attempts[(s, t)] == 1:
            raise ConnectionError("connection reset (injected)")
        return real_write(self, snap, path)

    watermark = dict.fromkeys(tables, 0)
    outcome: dict[tuple[int, str], tuple[str, int, int]] = {}
    session_error: dict[int, bool] = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SnapshotStore, "_write_snapshot", injected)
        for s in range(n_sessions):
            end = (s + 1) * SESSION_SPAN
            try:
                store.export_incremental(
                    frames, dest, f"s{s}", end_time=end, max_concurrent=pool
                )
                session_error[s] = False
            except ValueError as ex:
                assert "permanent" in str(ex)
                session_error[s] = True
            # the model: serial pools stop at the first permanent failure
            # (fail-fast in table order); wider pools bury and go on
            stopped = False
            for t in tables:
                start = watermark[t]
                if stopped:
                    continue
                if failures[(s, t)] == "permanent":
                    outcome[(s, t)] = ("error", start, end)
                    stopped = pool == 1
                    continue
                has_rows = any(start <= c[3] < end for c in cells[t])
                outcome[(s, t)] = ("ok" if has_rows else "empty", start, end)
                watermark[t] = end
    return store, dest, outcome, session_error, watermark


def _truth(cells, outcome, t, cutoff):
    covered = [
        c
        for c in cells[t]
        if c[3] <= cutoff
        and any(
            st_ == "ok" and lo <= c[3] < hi
            for (_s, tt), (st_, lo, hi) in outcome.items()
            if tt == t
        )
    ]
    newest: dict[tuple, tuple] = {}
    for c in covered:
        key = c[:3]
        if key not in newest or c[3] > newest[key][3]:
            newest[key] = c
    return sorted(newest.values())


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(chains())
def test_chain_matches_python_model(spark_global, chain):
    spark = spark_global
    tables, n_sessions, cells, failures, candidates, cutoffs, pool = chain
    with tempfile.TemporaryDirectory(prefix="chain_oracle_") as tmp:
        store, dest, outcome, session_error, watermark = _run_chain(
            spark, tmp, tables, n_sessions, cells, failures, pool
        )
        cat = store.catalog

        # one session row per export bracket, ended, error iff a table failed
        sessions = {r["session_name"]: r for r in cat.session_info("export").collect()}
        assert sorted(sessions) == [f"s{s}" for s in range(n_sessions)]
        for s in range(n_sessions):
            row = sessions[f"s{s}"]
            assert row["ended_at"] is not None
            assert row["error"] is session_error[s]

        # watermarks: the end of the last clean (possibly empty) export
        wm = {r["table_name"]: r["next_start_time"] for r in cat.next_start_times(dest_root=dest)}
        assert wm == {t: w for t, w in watermark.items() if w}

        for t in tables:
            # pruning, at every candidate cutoff: the clean non-empty
            # exports whose range starts at or before it
            want_sessions = {
                cutoff: [
                    f"s{s}"
                    for s in range(n_sessions)
                    if outcome.get((s, t), ("",))[0] == "ok" and outcome[(s, t)][1] <= cutoff
                ]
                for cutoff in candidates
            }
            for cutoff in candidates:
                got_sessions = [r["session_name"] for r in cat.restore_sessions(t, dest, cutoff)]
                assert got_sessions == want_sessions[cutoff], (t, cutoff)

            for cutoff in cutoffs:
                truth = _truth(cells, outcome, t, cutoff)
                if not want_sessions[cutoff]:
                    with pytest.raises(ValueError, match="nothing to restore"):
                        store.restore_point_in_time(t, dest, cutoff_ts=cutoff)
                    assert truth == []
                    continue
                got = store.restore_point_in_time(t, dest, cutoff_ts=cutoff)
                assert sorted(map(tuple, got.collect())) == truth, (t, cutoff)

        # imports: every clean table of every session, exactly its range
        for s in range(n_sessions):
            clean = [t for t in tables if outcome.get((s, t), ("",))[0] in ("ok", "empty")]
            out = store.import_tables(dest, f"s{s}", f"imp{s}", requested=clean)
            want = {t for t in clean if outcome[(s, t)][0] == "ok"}
            assert set(out) == want
            for t in want:
                _, lo, hi = outcome[(s, t)]
                expect = sorted(c for c in cells[t] if lo <= c[3] < hi)
                assert sorted(map(tuple, out[t].collect())) == expect, (s, t)
