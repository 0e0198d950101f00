"""Battery-wide physical-plan lint: mechanical enforcement of the scale
rules every entry claims in prose.

Three anti-patterns are scanned for in every entry.  LAZY entries are
linted on their formatted plan before any action.  EAGER entries — the
p/v families and u07, which execute pipelines/streams at build time —
are linted through the plan-capture hook (agentic_etl_poc_spark/
plan_capture.py): their action sites note each executed frame's plan
(DQ scalar aggregate, sink input, incremental high-water, the drained
stream's last micro-batch execution), and the same three rules run over
every captured plan plus the returned result frame:

- ``CartesianProduct``: a non-broadcast cross join — quadratic shuffle,
  never acceptable.  (BroadcastNestedLoopJoin with a provably-small
  broadcast side is the sanctioned cross-join shape.)
- ``BatchEvalPython``: a pickled row-at-a-time Python UDF in the plan —
  the slow path the battery's UDF ranking forbids outside the one entry
  that exists to demonstrate it.
- ``SinglePartition`` exchange: every occurrence must be a consciously
  bounded global step (scalar aggregate, decile labeling over one row
  per doc, prefix-sum over block totals).  The allowlist below IS that
  consciousness: adding an entry here requires stating why the
  single-partition data is bounded at 100 TB.

A new entry that trips a rule either fixes its plan or adds itself to
the allowlist with a justification — silent scale regressions can't
land.
"""

from __future__ import annotations

import pytest

from agentic_etl_poc_spark.queries import load_all

ALL = load_all()

#: Entries whose fn() executes work eagerly (plan pipelines, streaming
#: drains, the custom-sink write): linted via the plan-capture hook in
#: test_no_scale_antipatterns_eager below.  p01 is NOT here: despite the
#: family prefix it builds one lazy DataFrame (the old blanket "p0"
#: exemption silently skipped it from the lazy lint).
EAGER = sorted(
    n
    for n in ALL
    if (n[0] in "pv" and n != "p01_curation_pipeline")
    or n in ("u07_python_writer", "u10_python_stream_writer")
)

LAZY = sorted(n for n in ALL if n not in set(EAGER))

#: name -> why its single-partition exchange is bounded at scale.
SINGLE_PARTITION_OK: dict[str, str] = {
    "q27_correlated_subquery": "scalar subquery aggregate (one row)",
    "q31_date_spine_gapfill": "min/max scalar agg seeds the date sequence",
    "q35_not_in_null_trap": "NOT IN's null-check is a scalar aggregate",
    "q36_explode_outer": "scalar count for the coverage ratio",
    "q52_funnel": "funnel totals are a scalar aggregate row",
    "t09_corpus_stats": "corpus-level stats ARE one global row",
    "t12_length_deciles": "NTILE decile labels over one row per doc; "
    "scale path swaps to approx-quantile thresholds (documented)",
    "t14_tfidf_keywords": "corpus doc-count scalar broadcast into tf-idf",
    "p01_curation_pipeline": "packing phase-2 prefix sum runs over tiny "
    "per-block totals only (same two-phase design as t16; surfaced when "
    "the blanket p0-family eager exemption was lifted)",
    "q58_forecast_revenue": "TPC-H Q6 IS one scalar aggregate row",
    "q61_small_quantity_avg": "TPC-H Q17's avg_yearly IS one scalar "
    "aggregate row (the per-part correlated average stays a keyed "
    "hash exchange)",
    "d12_semantic_dedup": "corpus-count scalar (k = ⌊√n⌋) seeds the "
    "centroid filter; one row",
    "d15_lsh_semantic_dedup": "corpus-count scalar (b = bit_length"
    "(n div occ)) seeds the projection filter; one row",
    "d16_semantic_recall_audit": "inherits d12's and d15's corpus-count "
    "scalar seeds, and the audit's own output IS one global row of "
    "recall counters",
    "d17_multiprobe_semantic_dedup": "inherits d15's corpus-count scalar "
    "seeds (twice: single- and multi-probe drop sets share the cell "
    "machinery) and the output IS one global row of recall counters",
    "t16_sequence_packing": "phase-2 prefix sum runs over tiny per-block "
    "totals only (documented two-phase design)",
    "t19_token_rarity": "NTILE rarity labels over one row per doc; scale "
    "path swaps to approx-quantile thresholds (documented)",
    "q69_promo_revenue_share": "TPC-H Q14's promo/total ratio IS one "
    "scalar aggregate row",
    "q70_disjunctive_predicate_join": "TPC-H Q19's revenue IS one scalar "
    "aggregate row",
    "q71_important_part_values": "the global-value threshold is an "
    "uncorrelated scalar subquery (one row); the per-part aggregation "
    "stays a keyed hash exchange",
    "q72_dormant_rich_customers": "TPC-H Q22's above-average threshold is "
    "an uncorrelated scalar AVG subquery (one row); the segment rollup "
    "is 3 keyed groups",
    "q74_top_supplier_revenue": "TPC-H Q15's MAX(total_revenue) is an "
    "uncorrelated scalar subquery over the per-supplier revenue CTE "
    "(one row); the revenue aggregation itself is keyed on suppkey",
    "g02_triangle_count": "the triangle count and the wedge count are "
    "each one scalar aggregate row (joined for the closure rate); the "
    "wedge join itself is keyed on src",
    "g03_bfs_levels": "the BFS seed (MIN node) is one scalar aggregate "
    "row; every frontier round is keyed on node",
}

#: Entries allowed to carry a pickled row-at-a-time Python eval.
PICKLED_UDF_OK = {
    "u02_python_udtf": "UDTFs are row-at-a-time by design; the entry "
    "exists to demonstrate the API on a 1-in-20 sample",
    "u08_polymorphic_udtf": "same row-at-a-time UDTF caveat as u02; the "
    "entry demonstrates the Spark 4 analyze() dynamic-schema API on a "
    "1-in-20 sample",
}


from tests.conftest import formatted_plan as _formatted_plan


@pytest.mark.parametrize("name", LAZY)
def test_no_scale_antipatterns(spark, sf_smoke, name):
    plan = _formatted_plan(ALL[name].fn(spark, sf_smoke))
    assert "CartesianProduct" not in plan, (
        f"{name}: non-broadcast cross join — broadcast the small side or "
        f"restructure"
    )
    if name not in PICKLED_UDF_OK:
        assert "BatchEvalPython" not in plan, (
            f"{name}: pickled row-at-a-time Python UDF in the hot path — "
            f"use built-ins, pandas UDFs, or Arrow"
        )
    if name not in SINGLE_PARTITION_OK:
        assert "SinglePartition" not in plan, (
            f"{name}: single-partition exchange — if the data there is "
            f"provably bounded, add the entry to SINGLE_PARTITION_OK with "
            f"the reason; otherwise repartition"
        )


#: Captured-plan label -> why a single-partition exchange there is a
#: consciously bounded step at 100 TB.
EAGER_SINGLE_PARTITION_OK: dict[str, str] = {
    "result_frame": "eager entries' returned frame is a presentation "
    "sort over an already-drained memory table / re-read artifact — "
    "bounded by the entry's (small) result set, not the input",
}


@pytest.mark.parametrize("name", EAGER)
def test_no_scale_antipatterns_eager(spark, sf_smoke, name):
    """Run the eager entry once under the plan-capture hook and apply the
    same three rules to every plan its actions executed (including the
    drained stream's last micro-batch execution) plus the returned
    result frame."""
    from agentic_etl_poc_spark.plan_capture import capture

    with capture() as plans:
        result = ALL[name].fn(spark, sf_smoke)
    assert plans, (
        f"{name}: eager entry executed no captured action — a new action "
        f"site needs a plan_capture.note() call"
    )
    checked = list(plans) + [("result_frame", _formatted_plan(result))]
    for label, plan in checked:
        assert "CartesianProduct" not in plan, (
            f"{name}[{label}]: non-broadcast cross join in an executed plan"
        )
        assert "BatchEvalPython" not in plan, (
            f"{name}[{label}]: pickled row-at-a-time Python UDF in an "
            f"executed plan"
        )
        if label not in EAGER_SINGLE_PARTITION_OK:
            assert "SinglePartition" not in plan, (
                f"{name}[{label}]: single-partition exchange in an executed "
                f"plan — justify in EAGER_SINGLE_PARTITION_OK or repartition"
            )


def test_lint_lists_track_registry():
    """The allowlists must not rot: every allowlisted name must still be
    a registered LAZY entry."""
    for n in SINGLE_PARTITION_OK:
        assert n in ALL and n in set(LAZY), n
    for n in PICKLED_UDF_OK:
        assert n in ALL and n in set(LAZY), n
    # eager set stays exact: a new eager family must be listed on purpose
    assert set(EAGER) == {
        n
        for n in ALL
        if (n[0] in "pv" and n != "p01_curation_pipeline")
        or n in ("u07_python_writer", "u10_python_stream_writer")
    }
