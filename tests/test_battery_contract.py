"""Battery output contract: driver-canonicalizer-safe schemas.

The driver canonicalizes each query result with a pandas ``sort_values``
over all columns and then hashes cells; list/dict cells are unhashable and
crash the check (round-1 q28 failure).  Rule: every battery query's output
schema is SCALARS ONLY — no array/map/struct columns.  Complex values that
matter to a query's semantics are serialized deterministically (e.g.
``array_join``) before they leave the query.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from agentic_etl_poc_spark.queries import QUERIES, load_all
from agentic_etl_poc_spark.queries.core import sweep_order
from tests.conftest import SF_SMOKE

ALL = load_all()

_COMPLEX = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)


@pytest.mark.parametrize("name", sorted(ALL))
def test_output_schema_is_scalar_only(spark, name):
    df = ALL[name].fn(spark, SF_SMOKE)  # lazy: schema only, no job
    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)]
    assert not bad, (
        f"{name}: complex-typed output columns {bad} — the driver's "
        "canonicalizer cannot sort/hash them; serialize to scalars "
        "(array_join / to_json) inside the query"
    )


@pytest.mark.parametrize("name", sorted(ALL))
def test_output_columns_unique(spark, name):
    df = ALL[name].fn(spark, SF_SMOKE)
    cols = df.columns
    assert len(cols) == len(set(cols)), f"{name}: duplicate output columns {cols}"


def test_sweep_order_covers_registry_exactly():
    """Every registered query holds exactly one sweep position: the
    external correctness sweep records only the first ~50 entries per
    round, so a dropped or doubled name would skew what gets checked."""
    order = sweep_order(QUERIES)
    assert len(order) == len(set(order)), "duplicate sweep slots"
    assert set(order) == set(QUERIES) == set(ALL)


def test_load_all_follows_sweep_order():
    """load_all() IS the sweep order, derived from the committed files."""
    assert list(ALL) == sweep_order(QUERIES)


def _sweeps(root, rounds: dict[int, dict[str, bool]], bench=None) -> str:
    """Write synthetic CORRECTNESS_r{N}.json files (name -> green?) and a
    BENCH_QUERIES.json under ``root``; return it as a sweep_order root."""
    import json

    for n, rows in rounds.items():
        (root / f"CORRECTNESS_r{n:02d}.json").write_text(
            json.dumps(
                {
                    q: {"rows_match": True, "schema_match": True, "hash_match": ok}
                    for q, ok in rows.items()
                }
            )
        )
    (root / "BENCH_QUERIES.json").write_text(json.dumps({"queries": bench or {}}))
    return str(root)


def test_rule_latest_reds_lead(tmp_path):
    root = _sweeps(
        tmp_path,
        {1: {"a": True, "b": True, "c": True}, 2: {"c": False, "b": True}},
    )
    # c: red now (green in r1); d: never sampled; a: green in r1; b: r2
    assert sweep_order(["a", "b", "c", "d"], root) == ["c", "d", "a", "b"]


def test_rule_rounds_ascend_never_green_is_round_zero(tmp_path):
    # y was sampled but never green; w was never sampled; a NULL hash
    # (no hash check recorded) still counts as green
    root = _sweeps(
        tmp_path, {1: {"x": True, "y": False}, 2: {"z": None}, 3: {"v": True}}
    )
    assert sweep_order(["v", "w", "x", "y", "z"], root) == ["w", "y", "x", "z", "v"]


def test_rule_cheap_first_within_a_round(tmp_path):
    root = _sweeps(
        tmp_path,
        {1: {"a": True, "b": True, "c": True}, 2: {"d": True}},
        bench={"a": 3.0, "b": 1.0, "c": 2.0, "d": 0.1},
    )
    assert sweep_order(["a", "b", "c", "d"], root) == ["b", "c", "a", "d"]


def test_rule_unbenched_names_sort_last_in_their_round(tmp_path):
    root = _sweeps(
        tmp_path, {1: {"a": True, "b": True, "c": True}}, bench={"c": 9.0}
    )
    assert sweep_order(["a", "b", "c", "n"], root) == ["n", "c", "a", "b"]


def test_rule_rounds_sort_numerically(tmp_path):
    # lexicographically r100 < r99, which would make r99 "latest" (b red)
    root = _sweeps(tmp_path, {99: {"a": True, "b": False}, 100: {"b": True}})
    assert sweep_order(["b", "a"], root) == ["a", "b"]


SWEEP_WINDOW = 50  # rows the external correctness sweep records per round


def _correctness_files():
    """CORRECTNESS_r*.json paths sorted by INTEGER round number (a plain
    lexicographic sort would rank r100 < r99)."""
    import glob
    import os
    import re

    from tests.conftest import REPO_ROOT

    def round_no(path):
        return int(re.search(r"_r(\d+)\.json$", path).group(1))

    return sorted(
        glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")), key=round_no
    )


def test_sweep_priority_block_leads():
    """Rotation invariant, recomputed from the recorded sweeps
    independently of queries/core.py::sweep_order, so every new
    CORRECTNESS_r{N}.json re-checks the derived order.  Invariant: with
    `stale` = entries lacking a green row in the LATEST sweep
    (never-sampled entries count as stale), the first min(50, len(stale))
    slots must all be stale — no window slot may be burned on an entry
    that is already freshly green — and never-sampled entries (which have
    waited the longest) must all sit inside the window, with any entry
    recorded RED in the latest sweep at the very front."""
    import json

    files = _correctness_files()
    assert files, "no CORRECTNESS files — nothing to check the order against"
    latest = json.load(open(files[-1]))
    latest_green = {
        n
        for n, row in latest.items()
        if row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
    }
    latest_red = set(latest) - latest_green
    ever_recorded = set()
    for path in files:
        ever_recorded |= set(json.load(open(path)))

    stale = set(ALL) - latest_green
    never_sampled = set(ALL) - ever_recorded
    n_window = min(SWEEP_WINDOW, len(stale))
    window = list(ALL)[:n_window]
    wasted = [n for n in window if n not in stale]
    assert not wasted, (
        f"sweep window wastes slots on freshly-green entries {wasted}; "
        f"queries/core.py::sweep_order no longer puts stale entries first"
    )
    # red-in-latest entries are regressions — they must lead, never risk
    # truncation at the window tail
    reds_in_battery = latest_red & set(ALL)
    assert set(list(ALL)[: len(reds_in_battery)]) == reds_in_battery, (
        f"entries red in the latest sweep {sorted(reds_in_battery)} must "
        f"lead the sweep order"
    )
    missing_new = never_sampled - set(window)
    assert len(never_sampled) > n_window or not missing_new, (
        f"never-driver-sampled entries {sorted(missing_new)} must sit "
        f"inside the sweep window — they have waited longest for a row"
    )
