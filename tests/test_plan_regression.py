"""Plan-shape regression gate: every query's shuffle count must not exceed
its golden snapshot (plans_golden.json), broadcast joins must not silently
degrade to shuffle joins, whole-stage codegen must not disappear, and the
single-partition-window count is pinned (0 for every fact-scale frame).
Catches 'correct but 10× more shuffle' regressions that result-hash checks
can't see.

Regenerate intentionally with: python tools/plan_snapshot.py
(all metrics are measured on ONE AQE-off build per query — codegen markers
only exist on non-adaptive plans, and a single build means side-effecting
queries missing from SKIP can't double-execute). As in the snapshot, each
query is built on a fresh cache and measured before the next one is built,
so no other query's cached frame shapes its plan.
"""

import json
import os

import pytest

import hpmr_spark.all_queries  # noqa: F401
from hpmr_spark.catalog import QUERIES
from hpmr_spark.plans.explain import plan_pins

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans_golden.json")

@pytest.fixture(scope="module")
def golden():
    if not os.path.exists(GOLDEN_PATH):
        pytest.skip("no plans_golden.json — run tools/plan_snapshot.py")
    with open(GOLDEN_PATH) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def measured(spark, sf_dir, golden):
    """The pins of one AQE-off build per golden query, shared by every gate
    below; each build starts on a fresh cache."""
    orig = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    pins = {}
    try:
        for name, expect in golden.items():
            if "error" in expect:
                continue
            spark.catalog.clearCache()
            pins[name] = plan_pins(QUERIES[name](spark, sf_dir))
        yield pins
    finally:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.adaptive.enabled", orig)


def test_no_shuffle_regressions(measured, golden):
    worse = {}
    for name, got in measured.items():
        expect = golden[name]
        if got["n_shuffles"] > expect["n_shuffles"]:
            worse[name] = (expect["n_shuffles"], got["n_shuffles"])
        if expect["broadcast_join"] and not got["broadcast_join"]:
            worse[name] = ("broadcast", "lost")
    assert not worse, f"plan regressions: {worse}"


def test_no_codegen_span_loss(measured, golden):
    """Whole-stage codegen must not disappear from any pinned plan (spans
    are measured AQE-off, where the formatted plan carries codegen ids)."""
    worse = {}
    for name, got in measured.items():
        expect = golden[name]
        if expect.get("codegen_spans", 0) == 0:
            continue
        if got["codegen_spans"] < expect["codegen_spans"]:
            worse[name] = (expect["codegen_spans"], got["codegen_spans"])
    assert not worse, f"codegen span loss: {worse}"


# The eight round-2 offenders — pinned to ZERO single-partition windows
# forever (the driver bench log flagged these live: "No Partition Defined
# for Window operation! Moving all data to a single partition").
MIGRATED_FACT_QUERIES = [
    # round-2 verdict's eight offenders
    "ntile_price_deciles",
    "histogram_equidepth_cents",
    "skyline_price_date",
    "equi_depth_histogram_bounds",
    "percent_rank_prices",
    "binary_classifier_eval_auc",
    "event_lateness_profile",
    "winsorize_clip_stats",
    # round-3 extension: every other fact-scale frame (per-user, per-doc,
    # per-customer, vocab) — windows remaining in golden are over BOUNDED
    # frames only (≤B replicas, per-hour/per-week rollups, post-limit top-k)
    "rfm_user_scores",
    "pareto_revenue_concentration",
    "median_absolute_deviation",
    "sequence_gap_detection",
    "pack_sequences_ctx512",
    "funnel_time_to_convert",
    "zipf_fit_slope",
    "curriculum_shards",
    "vocab_nucleus_topp",
    "softmax_temperature_mixture",
]


def test_no_global_window_on_fact(measured, golden):
    """ZERO single-partition windows anywhere: round 3 migrated every
    fact-scale Window.orderBy to functions/ranking.py's two-pass bucketed
    forms and rewrote every bounded-frame window (post-LIMIT re-ranks,
    per-hour/per-week rollups, replica sets) as broadcast non-equi joins —
    the whole registry now pins n_global_windows = 0 and may never regrow
    one (the runtime signature is WindowExec's "No Partition Defined …
    single partition" warning; a full selfcheck sweep emits zero)."""
    worse = {}
    for name, pins in measured.items():
        pinned = golden[name].get("n_global_windows")
        got = pins["n_global_windows"]
        if got > 0 or (pinned is not None and pinned > 0):
            worse[name] = (pinned, got)
    assert not worse, f"single-partition windows found: {worse}"
    for name in MIGRATED_FACT_QUERIES:
        if name in measured:
            assert measured[name]["n_global_windows"] == 0, (
                f"{name} regrew a single-partition window"
            )
