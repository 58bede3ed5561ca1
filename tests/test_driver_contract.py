"""Driver-contract invariants: queries()/oracle_sql() alignment, a fast
end-to-end oracle comparison at sf0.001 for representative queries, and the
plan-shape audit of tools/explain_audit.py over every registered query.

The full all-query comparison lives in tools/check_oracles.py (run at sf0.01);
here we keep a cheap always-on slice so regressions surface in pytest.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, ".")
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check_oracles import canon, duck_conn  # noqa: E402
from explain_audit import INTENTIONAL_BNL, audit, plan_of  # noqa: E402

SF = "/root/testdata/sf0.001"

# the scans over the cell-sorted events copy: each must hand parquet a
# merged cell_id range predicate, or row-group skipping is lost
CLUSTERED_SCANS = ["s2_cap_join_clustered", "s2_rect_join", "s2_pip_join"]


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


@pytest.fixture(scope="module")
def duck():
    return duck_conn(SF)


@pytest.fixture(scope="module")
def built(entrymod, spark):
    """Every registered query's DataFrame, built once for the module."""
    return {name: fn(spark, SF) for name, fn in entrymod.queries().items()}


@pytest.fixture(scope="module")
def plans(built):
    return {name: plan_of(df) for name, df in built.items()}


def test_oracle_keys_subset_of_queries(entrymod):
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    # every query is oracled (ann_ivf graduated in round 3: its pipeline is
    # deterministic, so the oracle replays it exactly)
    rows_only = set(qs) - set(os_)
    assert rows_only == set()


def test_oracles_are_valid_duckdb(entrymod, duck):
    for name, sql in entrymod.oracle_sql().items():
        duck.execute(f"SELECT * FROM ({sql}) t LIMIT 0")


def test_entry_runs(entrymod, spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["region_id", "event_id"]


@pytest.mark.parametrize(
    "name",
    ["s2_tile_assign", "s2_cell_hierarchy", "s2_cap_join", "s2_knn", "fingerprint",
     "span_pipeline", "pricing_summary", "s2_vectorize"],
)
def test_query_matches_oracle_sf0001(entrymod, duck, spark, name):
    sdf = canon(entrymod.queries()[name](spark, SF).toPandas())
    odf = canon(duck.execute(entrymod.oracle_sql()[name]).df())
    assert len(sdf) == len(odf)
    assert list(sdf.columns) == list(odf.columns)
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False, check_exact=True)


def test_oracle_types_hash_compatible(entrymod, duck, built):
    """Every oracle column's DuckDB type must be the exact hash-compatible
    twin of the Spark column type (the driver's value-hash is typed: a
    HUGEINT/DECIMAL/INTEGER surfacing where Spark emits BIGINT/DOUBLE
    hash-mismatches even on equal values — the round-1 sessionize bug)."""
    good = {
        ("BIGINT", "bigint"),
        ("DOUBLE", "double"),
        ("VARCHAR", "string"),
        ("BOOLEAN", "boolean"),
        ("TIMESTAMP", "timestamp"),
        # testdata parquet timestamps load as NTZ in Spark and plain
        # TIMESTAMP in DuckDB; both land as datetime64[us] in the compare
        # frame (hash-verified by check_oracles on asof_join)
        ("TIMESTAMP", "timestamp_ntz"),
    }
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE SELECT * FROM ({sql}) t").fetchall()
        stypes = {f.name: f.dataType.simpleString() for f in built[name].schema.fields}
        for col, dtype, *_ in desc:
            st = stypes.get(col)
            base = dtype.split("(")[0]
            if st is None or (base, st) not in good:
                bad.append(f"{name}.{col}: duck={dtype} spark={st}")
    assert not bad, bad


def test_every_plan_passes_audit(plans):
    """No registered query plans a BroadcastNestedLoopJoin without a stated
    reason in INTENTIONAL_BNL, and none plans a cartesian product."""
    failed = {}
    for name, plan in plans.items():
        notes, ok = audit(plan, name)
        if not ok:
            failed[name] = [n for n in notes if n.startswith("FAIL")]
    assert not failed, failed


def test_bnl_whitelist_is_live(plans):
    """Every whitelist reason names a registered query that still plans the
    nested-loop join it explains, so no stale reason survives."""
    assert set(INTENTIONAL_BNL) <= set(plans)
    stale = [n for n in INTENTIONAL_BNL if "BroadcastNestedLoopJoin" not in plans[n]]
    assert not stale, stale


@pytest.mark.parametrize("name", CLUSTERED_SCANS)
def test_clustered_scan_pushes_cell_id_range(plans, name):
    pushed = re.findall(r"PushedFilters: \[(.+)\]", plans[name])
    assert any(
        "GreaterThanOrEqual(cell_id," in p and "LessThanOrEqual(cell_id," in p
        for p in pushed
    ), pushed


def test_audit_rejects_unlisted_nested_loop_join(plans):
    name = next(iter(INTENTIONAL_BNL))
    assert audit(plans[name], name)[1]
    notes, ok = audit(plans[name], "not_whitelisted")
    assert not ok
    assert any("unexpected BroadcastNestedLoopJoin" in n for n in notes)
