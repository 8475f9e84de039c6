"""Import every module that registers queries into hpmr_spark.catalog.

Importing this module fully populates QUERIES/ORACLES. Each import is
individually guarded so one broken extension module can never take down the
whole registry (the driver's correctness gate would otherwise lose every
query to a single ImportError).
"""

import importlib
import pkgutil
import sys
import traceback

from hpmr_spark import operators

FAILED_MODULES: dict[str, str] = {}

_MODULES = ["hpmr_spark.catalog"] + [
    f"hpmr_spark.operators.{name}"
    for name in sorted(m.name for m in pkgutil.iter_modules(operators.__path__))
]

for _m in _MODULES:
    try:
        importlib.import_module(_m)
    except Exception:  # pragma: no cover - defensive only
        FAILED_MODULES[_m] = traceback.format_exc()
        print(f"hpmr_spark: WARNING — query module {_m} failed to import", file=sys.stderr)


# The driver's correctness gate walks queries() in dict order and checks
# only the first 50 entries: registration order IS the verification
# window. _reorder_registry moves these names to the front; every other
# query keeps its import order behind them.
_CHECK_FIRST = [
    # ============== ROUND-13 WINDOW (driver round 11) ==============
    # CORRECTNESS_r10 landed 50/50 green, retiring the whole round-12
    # window. Composition, in VERDICT r10's priority order:
    # (a) this round's new operators (volume kept modest per item 7 —
    #     every new op gets its own-round driver row);
    # (b) roc_convex_hull — its OUTPUT changed this round (ADVICE r10
    #     equal-x dominance fix: vertically dominated points, including
    #     a dominated (0,0), no longer survive). The other two ADVICE
    #     fixes are bit-identical on this data (msfp table extension
    #     only adds unreachable entries; linear-probe guard never fires
    #     below sf1) and keep selfcheck+invariance coverage — no slots.
    # (c) the rotating §2 canary: distmap_n_keys (get_n_keys, checked
    #     only in r01 — VERDICT r10 item 6's named choice);
    # (d) VERDICT r10 item 1's named never-checked leads (judge
    #     spot-checked all green this session): simhash-docs,
    #     winnowing, contamination, span-corruption, MLM, corpus
    #     filter, CDC, containment, text quality/fingerprint,
    #     levenshtein-fuzzy;
    # (e) risk-weighted never-checked fill: every remaining r9-new
    #     operator (whole pretrain3/mixing_eval/corpus_lm2/
    #     decode_profile/planning_eval modules had zero driver rows),
    #     both zero-driver-row r10 modules' risky reps (IPF raking,
    #     energy distance), streaming debounce, write-at-build
    #     partitioned sink, the arrow Python-worker path, the ASOF
    #     join, and two Spark-4 SQL surfaces (that family has zero
    #     driver rows ever).
    # Accounting: 229 never-checked at r13 start + N_new own-round rows
    # − 40 first-time retirements → 229 + N_new − 40 (≈197 at N_new=8)
    # of ~615. Item 1's <180 bar is unreachable in one 50-row window
    # once own-round rows are seated (50 − N_new − canary − roc ≤ 40
    # retirements; 229 − 40 = 189 > 180 even at N_new = 0) — same
    # 50-row-cap arithmetic the r8/r12 closes documented; two more
    # rotations clear the tail. Deferred-class notes: rolling_median /
    # lttb (cache-aliasing class keeps cooccurrence/bigram_lm/chi²
    # driver-green from r10), bloom_semi_prune (sketch laws keep
    # sketch_bounded_checks + kmv_merge_property green from r10).
    # (a) round-13 new operators — appended as built this round
    "robin_hood_displacement_fold",
    "cuckoo_feasibility_census",
    "confident_learning_noise_census",
    "dataset_cartography_map",
    "forgetting_events_census",
    "dpo_implicit_reward_margins",
    "sql_scripting_isqrt_loop",
    "streaming_statestore_read",
    # (b) output-changed this round
    "roc_convex_hull",
    # (c) §2 canary (get_n_keys — r01-only row)
    "distmap_n_keys",
    # (d) VERDICT r10 named never-checked leads
    "dedup_simhash_docs",
    "winnowing_fingerprints",
    "contamination_span_profile",
    "span_corruption_transform",
    "mlm_masking_bert",
    "pipeline_corpus_filter",
    "cdc_latest_events",
    "dedup_containment_pairs",
    "text_quality_score",
    "text_fingerprint",
    "dedup_levenshtein_fuzzy",
    # (e) risk-weighted never-checked fill
    "gopher_repetition_fractions",
    "data_repeats_budget",
    "bitext_margin_mining",
    "bradley_terry_lang_strength",
    "systematic_resample_counts",
    "distinct_ngram_diversity",
    "pipeline_filter_funnel",
    "prefix_cache_sharing",
    "seqlen_bucket_padding_waste",
    "softdedup_commonness_weights",
    "best_of_n_reward",
    "bellman_ford_nation_days",
    "paged_kv_fragmentation",
    "word_burstiness_vmr",
    "self_bleu2_diversity",
    "cross_entropy_lang_matrix",
    "minhash_estimate_error",
    "chinchilla_data_budget",
    "importance_weight_ess",
    "temperature_scaling_grid",
    "dedup_signal_agreement",
    "debounce_events_5s",
    "sink_partitioned_pruned",
    "applyinarrow_lang_stats",
    "asof_join_with_tolerance",
    "sql_session_variables",
    "pipe_syntax_orders_summary",
    "ipf_raking_weights",
    "energy_distance_twosample",
]


def _reorder_registry() -> None:
    from hpmr_spark import catalog

    for d in (catalog.QUERIES, catalog.ORACLES):
        rest = dict(d)
        d.clear()
        for name in _CHECK_FIRST:
            if name in rest:
                d[name] = rest.pop(name)
        d.update(rest)


_reorder_registry()
