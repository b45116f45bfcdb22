"""Every oracle-declared query must match DuckDB exactly (the driver gate).

Parametrized over the registry; runs at the small SF for speed. Queries
without an oracle get a rows/schema sanity check instead.
"""

from __future__ import annotations

import pytest

from hbacker_spark.registry import load_all_queries
from tests.oracle_harness import compare

SPECS = load_all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = SPECS[name]
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        rows = df.limit(1_000_000).collect()
        assert df.columns, f"{name}: no columns"
        assert rows is not None
        return
    problems = compare(df, spec.oracle, sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.slow
def test_full_registry_parity_at_sf01(tmp_path):
    """One sweep of every oracled query at sf0.1 — 10x the driver's
    gate scale (VERDICT r5 #4). Catches scale-dependent divergence the
    sf0.01 gate can't see: integer/decimal overflow, rounding drift in
    fold-exact float kernels, rank ties appearing only at higher
    cardinality. Writes its receipt (pass/fail list + wall time) to
    SF01_PARITY.json under the test's tmp_path, so the suite never
    rewrites a tracked file. Run explicitly:
    pytest tests/test_oracle_parity.py -m slow -q (~10-15 min)."""
    import json
    import os
    import time

    from hbacker_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    spark = get_spark("sf01_parity")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    results: dict[str, str] = {}
    for name in sorted(SPECS):
        spec = SPECS[name]
        if spec.oracle is None:
            continue
        try:
            problems = compare(spec.fn(spark, sf_dir), spec.oracle, sf_dir)
            results[name] = "ok" if not problems else "; ".join(problems)
        except Exception as exc:  # noqa: BLE001 — receipt over crash
            results[name] = f"err: {exc}"[:300]
    wall = round(time.perf_counter() - t0, 1)
    receipt = {
        "sf_dir": sf_dir,
        "n_oracled": len(results),
        "n_ok": sum(1 for v in results.values() if v == "ok"),
        "wall_sec": wall,
        "failures": {k: v for k, v in results.items() if v != "ok"},
    }
    (tmp_path / "SF01_PARITY.json").write_text(
        json.dumps(receipt, indent=1) + "\n"
    )
    bad = receipt["failures"]
    assert not bad, f"sf0.1 parity failures ({len(bad)}): {sorted(bad)[:10]}"
