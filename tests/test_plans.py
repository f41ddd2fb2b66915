"""Physical-plan regression tests: the scale posture (pushdown,
pruning, broadcast) is asserted, not just documented — a refactor that
silently drops a pushed filter or broadcasts nothing fails here."""

from __future__ import annotations

import contextlib
import io

import pytest

from open_pulsar_spark import registry
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        registry.all_queries()[name](spark, SF_SMALL).explain("formatted")
    return buf.getvalue()


def test_q1_filter_and_projection_reach_the_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan          # predicate pushdown
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]  # pruned
    assert plan.count("HashAggregate") >= 2              # partial + final


def test_q3_broadcasts_the_filtered_dimension(spark):
    plan = plan_of(spark, "q3_top_revenue_orders")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan       # dim filter pushed
    assert "CartesianProduct" not in plan


def test_q5_no_nested_loop_anywhere(spark):
    plan = plan_of(spark, "q5_region_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_window_not_range_join(spark):
    plan = plan_of(spark, "click_asof_purchase")
    # the union+last formulation: no join node at all, one window
    assert "Join" not in plan or "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["doc_text_stats", "doc_quality_score", "doc_fingerprint"])
def test_text_ops_are_map_only(spark, name):
    plan = plan_of(spark, name)
    # no aggregation/join exchanges — only the final presentation sort
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_contamination_broadcasts_benchmark_side(spark):
    plan = plan_of(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_only(spark):
    plan = plan_of(spark, "corpus_sample_stratified")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_pii_scrub_is_map_only(spark):
    plan = plan_of(spark, "doc_pii_scrub")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_anomaly_mad_broadcasts_stat_frames(spark):
    plan = plan_of(spark, "events_anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q7_broadcasts_dims_no_nested_loop(spark):
    plan = plan_of(spark, "q7_nation_volume")
    # both nation lineages + small dims broadcast; the n1<n2 predicate
    # must not degrade anything to a nested-loop join
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q10_pushes_returnflag_and_takeordered(spark):
    plan = plan_of(spark, "q10_returned_customers")
    assert "EqualTo(l_returnflag,R)" in plan      # filter at the scan
    assert "TakeOrderedAndProject" in plan        # top-k, no global sort
    assert "CartesianProduct" not in plan


def test_band_range_join_is_equi_not_nested_loop(spark):
    plan = plan_of(spark, "events_value_band_join")
    # the whole point: interval containment via bucket equi-join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_cascade_scans_events_once(spark):
    plan = plan_of(spark, "events_rollup_cascade")
    # hourly partials cached: day/month read InMemoryRelation, so the
    # parquet scan of events appears exactly once in the plan
    assert plan.count("Scan parquet") - plan.count("Scan parquet []") <= 1 or \
        plan.count("events.parquet") <= 1


def test_shard_packing_single_window_shuffle(spark):
    plan = plan_of(spark, "doc_shard_packing")
    assert "Window" in plan
    assert "Join" not in plan


# Queries whose plans legitimately contain a nested-loop/cartesian node:
# single-row broadcast scalars (a 1-row total joined onto every group),
# tiny constant frames, or deliberately-bounded brute-force baselines.
_NESTED_LOOP_ALLOWED = {
    "doc_unigram_logprob",       # 1-row corpus total, broadcast
    "source_token_keyness",      # 1-row corpus total, broadcast
    "source_crossentropy_matrix",  # |sources|² grid + 1-row vocab size —
                                 # config-sized cross joins by design
    "events_type_hour_chisq",    # 1-row grand total + 1-row dims, broadcast
    "token_communities",         # 1-row pair total, broadcast (PMI edge gate)
    "ab_test_cuped",             # 1-row pooled-moments frame, broadcast
    "doc_tfidf_topterms",        # 1-row n_docs total, broadcast
    "backoff_schedule",          # 2-row constant rate_limited frame
    "dedup_ngram_jaccard",       # bounded-slice brute-force baseline
    "q22_idle_customers",        # 1-row scalar avg threshold, broadcast
    "q11_important_part_value",  # 1-row grand-total share threshold, broadcast
    "source_overlap_kmv",        # |sources|-row sketch-table pair join —
                                 # config-sized by construction, corpus
                                 # collapses to k doubles/source map-side
    "token_pmi_pairs",           # 1-row pair-total, broadcast
    "revenue_cusum_changepoint",  # 1-row max-|CUSUM| scalar, broadcast
    "layout_skipping_effectiveness",  # 32-probe × 64-file zone-map grid —
                                 # both sides bounded aggregates by
                                 # construction
    "dedup_lsh_capped_recall",   # 1-row capped-count × 1-row exact-count,
                                 # broadcast
    "winnowing_capped_recall",   # same shape: 1-row × 1-row count join
    # round-9 wave: the same benign 1-row / bounded scalar-broadcast class
    "daily_order_cusum",         # 1-row (n_days, total) scalar, broadcast
    "user_growth_accounting",    # 1-row max-day scalar, broadcast
    "dsir_importance_weights",   # 1-row norm scalar, broadcast
    "source_length_ks_matrix",   # srcs × content-bounded length spine
    "orders_benford_audit",      # 1-row N scalar + 9-row digit cells
    "error_rate_pchart",         # 1-row (N, E) totals, broadcast
    "purchase_survival_km",      # 1-row horizon scalar, broadcast
    "segment_value_psi_drift",   # 1-row calendar-span scalar, broadcast
    "markov_entropy_rate",       # 1-row entropy-rate scalar, broadcast
    "token_dispersion_profile",  # 1-row n_docs scalar, broadcast
    "part_association_rules",    # 1-row basket-count scalar, broadcast
    # round-10 wave: the same benign 1-row scalar-broadcast class
    "weekday_weekend_mix",       # 1-row day-class counts, broadcast
    "events_hourly_fano",        # 1-row hour-span scalar, broadcast
    "order_linecount_histogram",  # 1-row revenue grand total, broadcast
    "embedding_intrinsic_dim",   # TWONN_PROBES-row probe frame, broadcast
}


def test_no_query_compiles_to_unbounded_nested_loop(spark):
    """Engine-wide guardrails, one pass over every registered query:

    1. Scale: the physical plan is free of CartesianProduct, and free
       of BroadcastNestedLoopJoin except where a documented bounded
       scalar / baseline makes it safe. A refactor that silently turns
       an equi-join into a nested loop fails here, not at 100 TB.
    2. Output-type contract: no FINAL schema carries a DECIMAL column.
       Round 7's only driver-red row (revenue_dow_anova) was the only
       query ever sampled with DECIMAL(38,0) in its output — the
       driver's value-hash canonicalizes it differently from DuckDB.
       Internal arithmetic may use decimal(38,0) freely; outputs stick
       to BIGINT/DOUBLE/STRING/DATE/TIMESTAMP (>2^63-capable exact
       counters leave as digit STRINGs on both engines)."""
    import contextlib
    import io

    from pyspark.sql.types import DecimalType

    from open_pulsar_spark import registry

    offenders = {}
    decimal_outputs = {}
    for name, qfn in sorted(registry.all_queries().items()):
        df = qfn(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _NESTED_LOOP_ALLOWED:
            offenders[name] = "BroadcastNestedLoopJoin"
        dec_cols = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
        if dec_cols:
            decimal_outputs[name] = dec_cols
    assert not offenders, offenders
    assert not decimal_outputs, (
        "DECIMAL-typed output columns are a driver-hash hazard "
        "(round-7 revenue_dow_anova precedent): " + repr(decimal_outputs)
    )


def test_q2_pushes_band_filter_and_broadcasts_dims(spark):
    plan = plan_of(spark, "q2_min_cost_supplier")
    # the part band filter reaches the part scan, not a post-join Filter
    assert "EqualTo(p_type,SMALL)" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_anti_join_is_broadcast_and_distinct_is_partial(spark):
    plan = plan_of(spark, "q16_supplier_variety")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # countDistinct compiles to the two-phase partial_count(distinct ...)
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q21_decorrelation_never_nested_loops(spark):
    """The EXISTS + NOT-EXISTS pair must stay ONE per-order aggregate
    joined back — never a correlated nested-loop re-scan."""
    plan = plan_of(spark, "q21_waiting_orders_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_itemsets_broadcast_prune_no_cartesian(spark):
    """event_type_itemsets: the frequent-set frames broadcast (hash
    joins, never a nested loop) and the basket joins stay equi-keyed."""
    plan = plan_of(spark, "event_type_itemsets")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_reduces_to_registers_before_the_fold(spark):
    """events_hll_distinct: two aggregate levels (register max, then
    the per-group fold) and one join against the exact harness — the
    sketch side never joins the raw events."""
    plan = plan_of(spark, "events_hll_distinct")
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 levels
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Broadcast-hint discipline (SCALE.md "Global posture"): explicit
# F.broadcast hints are NOT demoted by AQE, so a hint over a frame that
# grows with scale factor is a hard `Cannot broadcast > 8GB` failure at
# the 100 TB north star.  The sweep below monkeypatches F.broadcast and
# builds EVERY registered query, profiling each hinted frame's analyzed
# plan — including hints applied inside eagerly-executed driver-side
# jobs (ANOVA/DiD cell collects) that never reach the returned plan.
# --------------------------------------------------------------------------

# Reviewed bounded-derived broadcast frames: each entry is a hinted frame
# that reads SF-linear tables but carries a bounding operator (Aggregate /
# GlobalLimit / Deduplicate) that reduces it to a row count independent of
# data volume.  Adding an entry here requires the same review: state WHY
# the frame is bounded at any scale factor.
ALLOWED_BOUNDED_HINTS: dict[str, set[frozenset[str]]] = {
    # 1-row grand totals / scalar stat frames
    "q11_important_part_value": {frozenset({"lineitem", "supplier"})},
    "q22_idle_customers": {frozenset({"customer"})},
    "ab_test_cuped": {frozenset({"events"})},
    "layout_skipping_effectiveness": {frozenset({"events"})},
    # per-(bounded-domain) stat frames: event_type / band / hour / source /
    # segment / brand / lang are schema- or config-bounded domains
    "events_anomaly_mad": {frozenset({"events"})},
    "events_type_hour_chisq": {frozenset({"events"})},
    "event_type_audience_overlap": {frozenset({"events"})},
    "event_type_itemsets": {frozenset({"events"})},  # ≤|event_type| k-sets
    "next_event_prediction_hitrate": {frozenset({"events"})},  # |types|² model
    "next_event_calibration": {frozenset({"events"})},  # |types|² model
    "revenue_seasonal_anomalies": {frozenset({"orders"})},  # 7-row dow medians
    "source_token_keyness": {frozenset({"documents"})},
    "source_crossentropy_matrix": {frozenset({"documents"})},
    "source_overlap_kmv": {frozenset({"documents"})},  # K-bounded KMV synopses
    "multimodal_magic_type_audit": {frozenset({"documents"})},  # ≤|kinds| rows
    "brand_seasonal_demand_index": {frozenset({"lineitem", "part"})},  # ≤|brands|
    "brand_market_coverage": {
        frozenset({"customer", "lineitem", "nation", "orders", "part"})
    },  # per-brand max over the bounded brand×region cell frame
    # time-horizon-bounded series (grow with calendar span, not volume)
    "segment_revenue_trend": {frozenset({"customer", "orders"})},
    "segment_revenue_theilsen": {frozenset({"customer", "orders"})},
    "revenue_cusum_changepoint": {frozenset({"orders"})},
    # top-N / limit-bounded heads and shortlists
    "doc_tfidf_topterms": {frozenset({"documents"})},
    "doc_unigram_logprob": {frozenset({"documents"})},
    "term_posting_index": {frozenset({"documents"})},
    "token_pmi_pairs": {frozenset({"documents"})},
    "token_communities": {frozenset({"documents"})},
    "shingle_cms_heavy_hitters": {frozenset({"documents"})},
    # config-bounded sketch / probe frames
    "bloom_join_pruning": {frozenset({"orders"})},  # m-bit filter words
    # K-centroid / N_QUERIES-bounded ANN frames (bounds made structural
    # via the identity min-agg / explicit .limit in clustering.py)
    "embedding_outliers": {frozenset({"embeddings"})},
    "embedding_hbos_outliers": {frozenset({"embeddings"})},
    "ann_ivf_kmeans": {frozenset({"embeddings"})},
    "ann_ivf_pq_refined": {frozenset({"embeddings"})},
    "ann_hard_negatives": {frozenset({"embeddings"})},
    "retrieval_ndcg": {frozenset({"embeddings"})},  # per-label counts (≤|labels|)
    # round-9 wave (each reviewed: the hinted frame is an aggregate whose
    # row count is bounded by schema, config, or calendar — not volume)
    "retrieval_map": {frozenset({"embeddings"})},  # per-label counts (≤|labels|)
    "retrieval_recall_at_k": {frozenset({"embeddings"})},  # same ≤|labels| frame
    "daily_order_cusum": {frozenset({"orders"})},  # 1-row (n_days, total) scalar
    "user_growth_accounting": {frozenset({"events"})},  # 1-row max-day scalar
    "tokenizer_vocab_coverage": {frozenset({"documents"})},  # top-VOCAB_V cut
    "dsir_importance_weights": {
        frozenset({"documents"})
    },  # DSIR_BUCKETS-row hashed-count table + 1-row norm scalar
    "error_rate_pchart": {frozenset({"events"})},  # 1-row (N, E) totals
    "markov_entropy_rate": {frozenset({"events"})},  # ≤|types| rows + 1-row rate
    "orders_benford_audit": {frozenset({"orders"})},  # 1-row N + 9 digit cells
    "part_abc_xyz_classes": {frozenset({"lineitem"})},  # 1-row quarter count
    "purchase_survival_km": {frozenset({"events"})},  # 1-row horizon scalar
    "segment_value_psi_drift": {
        frozenset({"orders"}),  # 1-row calendar-span scalar
        frozenset({"customer", "orders"}),  # ≤|segments| smoothing totals
    },
    "token_dispersion_profile": {frozenset({"documents"})},  # 1-row n_docs
    "user_rfm_segments": {frozenset({"orders"})},  # 1-row max-date scalar
    "nation_supplier_hhi": set(),  # nation dim hint only (schema-bounded)
    "user_event_gini": {frozenset({"events"})},  # O(parts) offsets frame
    "part_association_rules": {frozenset({"lineitem"})},  # 1-row N scalar
    # round-10 wave (each reviewed: 1-row scalar aggregates)
    "weekday_weekend_mix": {frozenset({"events"})},  # 1-row day-class counts
    "events_hourly_fano": {frozenset({"events"})},  # 1-row hour-span scalar
    "order_linecount_histogram": {
        frozenset({"lineitem"})
    },  # 1-row revenue grand total
    "embedding_intrinsic_dim": {
        frozenset({"embeddings"})
    },  # TWONN_PROBES-row probe frame (filter + structural limit)
}


# Reviewed bounded-input GLOBAL windows: a Window with an empty
# PARTITION BY funnels its whole input through one task, so over an
# SF-linear lineage it must either ride the prefix scaffold
# (operators/prefix.py) or sit above an operator that bounds the rows
# actually reaching it.  The profiler proves a bounding node exists on
# every scan path; whether its OUTPUT domain is volume-independent is
# the human review recorded here (same contract as
# ALLOWED_BOUNDED_HINTS).  Keyed query name → allowed table sets.
ALLOWED_BOUNDED_GLOBAL_WINDOWS: dict[str, set[frozenset[str]]] = {
    # calendar-bounded series (grow with the day/month span, not volume)
    "ab_test_sequential": {frozenset({"events"})},  # day × variant
    "daily_order_cusum": {frozenset({"orders"})},  # day spine
    "events_cumulative_users": {frozenset({"events"})},  # day spine
    "orders_monthly_trend": {frozenset({"orders"})},  # month spine
    "revenue_cusum_changepoint": {frozenset({"orders"})},  # day spine
    "user_survival_curve": {frozenset({"events"})},  # lifetime-day series
    "events_dow_forecast_backtest": {frozenset({"events"})},  # dow/day spine
    "forecast_conformal_interval": {frozenset({"events"})},  # day spine
    "orders_backlog_depth": {
        frozenset({"lineitem", "orders"})
    },  # day spine sweep
    "purchase_survival_km": {frozenset({"events"})},  # lifetime-day spine
    "revenue_acf": {frozenset({"orders"})},  # day series × ≤lag rows
    "copurchase_edge_novelty": {
        frozenset({"lineitem", "orders"})
    },  # ~|months| rollup
    "flag_status_mutual_info": {
        frozenset({"lineitem"})
    },  # returnflag × linestatus grid (≤ 6 cells)
    # schema-/config-/content-bounded domains
    "corpus_mix_weights": {frozenset({"documents"})},  # per-source grid
    "corpus_source_drift": {frozenset({"documents"})},  # |src|·|langs|
    "corpus_temperature_mix": {frozenset({"documents"})},  # O(#sources)
    "corpus_vocab_growth": {frozenset({"documents"})},  # floored-vocab moments
    "events_value_psi": {frozenset({"events"})},  # ~16 value bins
    "orders_benford_test": {frozenset({"orders"})},  # 9 leading digits
    "tokenizer_vocab_coverage": {frozenset({"documents"})},  # top-V cut
    # rank()==1 filter: Spark's InferWindowGroupLimit inserts a PARTIAL
    # per-input-partition top-1 BEFORE the single-partition exchange, so
    # the sort task receives ≤ #shuffle-partitions rows at any SF
    "q15_top_supplier": {frozenset({"lineitem"})},
}

# Documented deliberate exceptions (VERDICT-sanctioned): the exact
# whole-corpus half of a sketch-vs-exact harness, where the docstring
# states the 100 TB mode is sketch-only and the exact side exists to be
# graded against.
GLOBAL_WINDOW_EXCEPTIONS = {"value_quantile_sketch"}


@pytest.fixture(scope="module")
def registry_sweep(spark):
    """Build EVERY registered query once (running any eager driver-side
    jobs), recording (a) the profile of every frame passed to
    F.broadcast — including hints inside eager jobs that never reach
    the returned plan — and (b) every global-window profile of the
    returned DataFrame's optimized plan.  Both plan gates read this one
    sweep instead of re-building 300+ queries each."""
    import pyspark.sql.functions as SF

    from open_pulsar_spark.plan_hints import frame_profile, global_window_profiles

    recorded: list = []
    real_broadcast = SF.broadcast

    def recording_broadcast(df):
        recorded.append(frame_profile(df))
        return real_broadcast(df)

    broadcasts: dict[str, list] = {}
    windows: dict[str, list] = {}
    SF.broadcast = recording_broadcast
    try:
        for name, fn in sorted(registry.all_queries().items()):
            recorded.clear()
            df = fn(spark, SF_SMALL)  # build (and run any eager jobs)
            broadcasts[name] = list(recorded)
            windows[name] = global_window_profiles(df)
    finally:
        SF.broadcast = real_broadcast
    return {"broadcasts": broadcasts, "windows": windows}


def test_no_forced_broadcast_of_sf_linear_tables(registry_sweep):
    """Every F.broadcast hint over a frame that reads SF-linear tables
    must carry a structural bounding operator on every scan path AND a
    reviewed allowlist entry."""
    failures = []
    for name, profs in registry_sweep["broadcasts"].items():
        for prof in profs:
            if not prof.sf_linear_tables:
                continue  # schema-bounded dims / literal frames
            if (
                prof.has_bounding_op
                and prof.tables in ALLOWED_BOUNDED_HINTS.get(name, set())
            ):
                continue
            failures.append(
                f"{name}: forced broadcast over {sorted(prof.tables)} "
                f"(bounding_op={prof.has_bounding_op}) — raw SF-linear "
                "hints are forbidden; bounded derived frames need an "
                "ALLOWED_BOUNDED_HINTS review entry"
            )
    assert not failures, "\n".join(failures)


def test_no_single_partition_window_over_sf_linear_frames(registry_sweep):
    """The round-9 regression class, pinned shut: a global (empty
    PARTITION BY) window whose lineage reads SF-linear tables is a
    single-task sort of the corpus unless a bounding operator sits on
    every scan path below it — and bounded cases need a reviewed
    ALLOWED_BOUNDED_GLOBAL_WINDOWS entry.  SF-linear rank/quantile cuts
    belong on prefix.global_prefix (see customer_rfm_segments /
    conversion_lag_quantiles / user_rfm_segments)."""
    failures = []
    for name, profs in registry_sweep["windows"].items():
        if name in GLOBAL_WINDOW_EXCEPTIONS:
            continue
        for prof in profs:
            if not prof.sf_linear_tables:
                continue
            if prof.has_bounding_op and prof.tables in (
                ALLOWED_BOUNDED_GLOBAL_WINDOWS.get(name, set())
            ):
                continue
            failures.append(
                f"{name}: global window over {sorted(prof.tables)} "
                f"(bounding_op={prof.has_bounding_op}) — use "
                "prefix.global_prefix or bound the frame and add a "
                "reviewed ALLOWED_BOUNDED_GLOBAL_WINDOWS entry"
            )
    assert not failures, "\n".join(failures)


def test_global_window_detection_canary(registry_sweep, spark):
    """The window gate depends on Spark's plan-text rendering of Window
    nodes; if a Spark upgrade changes how order specs render, the gate
    must break LOUDLY here, not fail open silently.  Two live canaries:
    (a) a registry query known to contain a global window over
    SF-linear scans (it holds an ALLOWED_BOUNDED_GLOBAL_WINDOWS review
    entry, so it must be DETECTED for that review to mean anything),
    and (b) a synthetic order-only vs partitioned window pair built
    against the running Spark version."""
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    from open_pulsar_spark.plan_hints import global_window_profiles

    # (a) registry canary: a reviewed-global query must yield ≥1 profile
    canary = "orders_backlog_depth"
    assert registry_sweep["windows"].get(canary), (
        f"{canary} no longer detects as a global window — Spark's "
        "Window-node rendering changed; fix plan_hints._is_global_window"
    )

    # (b) live rendering canary on the running Spark version
    base = spark.range(8).withColumn("grp", SF.col("id") % 2)
    ordered = base.withColumn("r", SF.row_number().over(Window.orderBy("id")))
    assert len(global_window_profiles(ordered)) == 1, (
        "order-only global window not detected on this Spark version"
    )
    parted = base.withColumn(
        "r", SF.row_number().over(Window.partitionBy("grp").orderBy("id"))
    )
    assert len(global_window_profiles(parted)) == 0, (
        "partitioned window misclassified as global on this Spark version"
    )
    part_only = base.withColumn(
        "n", SF.count("*").over(Window.partitionBy("grp"))
    )
    assert len(global_window_profiles(part_only)) == 0, (
        "partition-only (two-group) window misclassified as global"
    )

    # (c) synthetic unrecognized renderings: a two-group Window whose
    # second group carries a direction token but NOT the anchored
    # SortOrder form (e.g. a future Spark dropping the NULLS clause)
    # must classify as GLOBAL — fail closed, per the docstring contract
    from open_pulsar_spark.plan_hints import (
        _DIRECTION_TOKEN,
        _ORDER_ENTRY,
        _is_global_window,
    )

    assert _is_global_window("Window [row_number() AS r#1], [id#0L ASC]"), (
        "NULLS-less order rendering fell open as partitioned"
    )
    assert _is_global_window(
        "Window [r#1], [grp#2L, id#0L DESC NULLS LAST]"
    ), "mixed bare+order second group fell open as partitioned"
    assert not _is_global_window(
        "Window [n#3L], [grp#2L, bucket(4, id#0L)]"
    ), "bare partition entries misclassified as global"
    # _DIRECTION_TOKEN must stay a superset of the anchored SortOrder
    # form, or recognized order specs would stop classifying as global
    for probe in ("x#1 ASC NULLS FIRST", "f(y#2) DESC NULLS LAST"):
        assert _ORDER_ENTRY.search(probe) and _DIRECTION_TOKEN.search(probe)


def test_plans_md_covers_every_registered_query():
    """PLANS.md is the generated plan-audit artifact; its `##` headers
    must cover the registry exactly (round 9: 58 queries silently
    missing from a hand-maintained audit list concealed a
    single-partition window).  explain_audit derives its list from the
    registry, so a mismatch here means PLANS.md needs regenerating:
    `python tools/explain_audit.py > PLANS.md`."""
    import pathlib
    import re

    plans = pathlib.Path(__file__).resolve().parents[1] / "PLANS.md"
    names = set(
        re.findall(r"^## (\S+)", plans.read_text(), flags=re.MULTILINE)
    )
    qs = set(registry.all_queries())
    missing = sorted(qs - names)
    stale = sorted(names - qs)
    assert not missing and not stale, {
        "missing_from_plans": missing[:10],
        "stale_in_plans": stale[:10],
    }


def test_plan_hints_parsers_on_synthetic_trees():
    """Pure-function coverage of the plan-text primitives behind both
    sweep gates: bracket-group splitting, global-window detection
    (order-only vs partition-only two-group Window nodes), and the
    per-scan-path bounding walk (an aggregate must sit ABOVE a scan to
    vouch for it, and cached FileScan leaves resolve to their table)."""
    from open_pulsar_spark.plan_hints import (
        _is_global_window,
        _scan_profile,
        _toplevel_groups,
    )

    assert _toplevel_groups("Window [a[0] x], [b ASC], [c]") == [
        "a[0] x",
        "b ASC",
        "c",
    ]
    # order-only two-group node = GLOBAL window
    assert _is_global_window(
        "Window [row_number() windowspecdefinition(x ASC NULLS FIRST, f())"
        " AS r#1], [x ASC NULLS FIRST]"
    )
    # partition-only two-group node (count OVER (PARTITION BY s)) = NOT
    assert not _is_global_window(
        "Window [count(1) windowspecdefinition(s#2, f()) AS n#3], [s#2]"
    )
    # three groups with a non-empty partition spec = NOT global
    assert not _is_global_window(
        "Window [rank() ... AS r#1], [s#2], [x ASC NULLS FIRST]"
    )

    # per-scan-path bounding: the aggregate bounds ONLY the scan below
    # it — the sibling raw scan stays unbounded even though an
    # Aggregate appears in the tree
    parsed = [
        (1, "Join Inner"),
        (2, "Aggregate [k], [k, count(1) AS n#1]"),
        (3, "Relation [o_orderkey#1] parquet"),
        (2, "Relation [l_orderkey#2] parquet"),
    ]
    tables, bounded, local = _scan_profile(parsed)
    assert tables == {"orders", "lineitem"} and not bounded and not local
    # both scans under bounding ancestors → bounded
    parsed_ok = [
        (1, "Join Inner"),
        (2, "Aggregate [k], [k]"),
        (3, "Relation [o_orderkey#1] parquet"),
        (2, "GlobalLimit 8"),
        (3, "Relation [l_orderkey#2] parquet"),
    ]
    _, bounded_ok, _ = _scan_profile(parsed_ok)
    assert bounded_ok

    # FAIL CLOSED (ADVICE r10): an unresolvable FileScan Location
    # (truncated / non-<table>.parquet layout) records the ?filescan
    # sentinel, counts as SF-linear, and an unbounded one flunks the
    # walk instead of silently passing
    from open_pulsar_spark.plan_hints import BroadcastHint

    parsed_trunc = [
        (1, "Project [x#1]"),
        (2, "FileScan parquet [x#1] Location: InMemoryFileIndex(1 path"
            ")[file:/data/part-000..., ... 3 entries]"),
    ]
    tables_t, bounded_t, local_t = _scan_profile(parsed_trunc)
    assert tables_t == {"?filescan"} and not bounded_t and not local_t
    prof = BroadcastHint(
        tables=frozenset(tables_t), has_bounding_op=bounded_t, local_only=local_t
    )
    assert prof.sf_linear_tables == frozenset({"?filescan"})
    # resolvable cached FileScan still maps to its table
    parsed_res = [
        (1, "Project [x#1]"),
        (2, "FileScan parquet [x#1] Location: InMemoryFileIndex"
            "[file:/root/testdata/sf0.01/lineitem.parquet]"),
    ]
    tables_r, _, _ = _scan_profile(parsed_res)
    assert tables_r == {"lineitem"}
    # cached lineage: FileScan under InMemoryRelation resolves by path,
    # and the physical HashAggregate above it counts as bounding
    parsed_cached = [
        (1, "HashAggregate(keys=[d], functions=[count(1)])"),
        (2, "InMemoryRelation [d#1, c#2], StorageLevel(memory)"),
        (3, "*(1) ColumnarToRow"),
        (4, "FileScan parquet [user_id#3] Batched: true, Location:"
            " InMemoryFileIndex[file:/x/sf0.001/events.parquet]"),
    ]
    tables_c, bounded_c, _ = _scan_profile(parsed_cached)
    assert tables_c == {"events"} and bounded_c


def test_round11_twin_readouts_pass_window_gate(spark, tmp_path):
    """The registry sweep gates never see streaming READOUTS (twins
    aren't registered queries), so profile the round-11/12 readouts
    directly: after folding one epoch, no readout may contain a global
    window over an SF-linear or UNRESOLVED scan path — ledger scans
    deliberately resolve to the ?filescan sentinel (fail-closed), so a
    single-partition window over a ledger would flunk here exactly
    like one over a fact table. (risk/lag close on the prefix
    scaffold's pid-partitioned windows; ks's ECDF window partitions by
    source; mk has no window at all; anova's close runs on a ≤7-row
    collected frame.)"""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.analytics import attributed_order_cents
    from open_pulsar_spark.plan_hints import global_window_profiles
    from open_pulsar_spark.streaming.ks_stream import ks_readout, update_ks
    from open_pulsar_spark.streaming.lag_stream import lag_readout, update_lag
    from open_pulsar_spark.streaming.mk_stream import mk_readout, update_mk
    from open_pulsar_spark.streaming.risk_stream import (
        risk_readout,
        update_risk,
    )
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    docs = load_table(spark, SF_SMALL, "documents")
    update_risk(spark, ev, f"{tmp_path}/r", 0)
    update_lag(spark, ev, f"{tmp_path}/l", 0)
    update_mk(spark, attributed_order_cents(spark, SF_SMALL), f"{tmp_path}/m", 0)
    update_ks(spark, docs, f"{tmp_path}/k", 0)

    from open_pulsar_spark.operators.analytics import (
        attributed_order_month_cents,
    )
    from open_pulsar_spark.streaming.trend_stream import (
        theilsen_readout,
        trend_readout,
        update_trend,
    )

    update_trend(
        spark, attributed_order_month_cents(spark, SF_SMALL), f"{tmp_path}/t", 0
    )
    from open_pulsar_spark.streaming.anova_stream import (
        anova_readout,
        update_anova,
    )

    update_anova(spark, load_table(spark, SF_SMALL, "orders"), f"{tmp_path}/a", 0)
    readouts = {
        "risk": risk_readout(spark, f"{tmp_path}/r"),
        "lag": lag_readout(spark, f"{tmp_path}/l"),
        "mk": mk_readout(spark, f"{tmp_path}/m"),
        "ks": ks_readout(spark, f"{tmp_path}/k"),
        "trend_ols": trend_readout(spark, f"{tmp_path}/t"),
        "trend_theilsen": theilsen_readout(spark, f"{tmp_path}/t"),
        "anova": anova_readout(spark, f"{tmp_path}/a"),
    }
    for name, df in readouts.items():
        bad = [
            p
            for p in global_window_profiles(df)
            if p.sf_linear_tables and not p.has_bounding_op
        ]
        assert not bad, f"{name} readout has an unbounded global window: {bad}"


def test_verify_twins_specs_resolve():
    """tools/verify_twins.py is a per-round gate like verify_oracle;
    its spec table hard-codes update/readout function names and batch
    anchor query names. Pin them against the live modules and
    registry so a rename breaks pytest loudly instead of breaking the
    gate at round start."""
    import importlib
    import importlib.util
    import pathlib

    from open_pulsar_spark.registry import all_queries

    tool_path = (
        pathlib.Path(__file__).resolve().parents[1] / "tools" / "verify_twins.py"
    )
    spec = importlib.util.spec_from_file_location("verify_twins", tool_path)
    vt = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vt)

    qs = all_queries()
    seen_anchors = set()
    for twin, (mod_name, upd_name, frame_fn, readouts) in vt.SPECS.items():
        mod = importlib.import_module(
            f"open_pulsar_spark.streaming.{mod_name}"
        )
        assert callable(getattr(mod, upd_name)), f"{twin}: {upd_name}"
        assert callable(frame_fn), twin
        for ro_name, anchor, _ in readouts:
            assert callable(getattr(mod, ro_name)), f"{twin}: {ro_name}"
            assert anchor in qs, f"{twin}: anchor {anchor} not registered"
            seen_anchors.add(anchor)
    # the special runners' anchors too
    for anchor in (
        "events_value_psi",
        "dq_violation_counts",
        "term_posting_index",
        "doc_ngram_novelty",
    ):
        assert anchor in qs, anchor
    assert len(vt.SPECS) == 26 and len(seen_anchors) == 34


def test_no_explode_of_stored_array_columns():
    """Guards the session-wide InferFiltersFromGenerate exclusion
    (session.py excludedRules): it is semantics-free AND a pure win
    only because every exploded array in this engine is DERIVED inside
    the same plan (shingles, basket pairs, grams, bigrams), where the
    inferred isnotnull/size>0 filter re-evaluates the whole derived
    expression. The one STORED array column in the catalog is
    embeddings.embedding — an operator exploding it directly would be
    the shape where the excluded rule could help (null/empty pruning
    pushed into the parquet scan). If this fires, revisit the
    exclusion note in session.py before adding the operator (ADVICE
    r12)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "open_pulsar_spark"
    pat = re.compile(
        r"(?:pos)?explode(?:_outer)?\(\s*(?:F\.col\()?[\"']embedding[\"']"
    )
    hits = []
    for py in sorted(root.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line):
                hits.append(f"{py.relative_to(root)}:{i}: {line.strip()}")
    assert not hits, (
        "stored array column exploded directly — revisit the "
        "InferFiltersFromGenerate exclusion (session.py):\n"
        + "\n".join(hits)
    )


def test_materialization_lives_in_one_module():
    """Every persist, unpersist and driver thread pool goes through
    open_pulsar_spark/materialize.py (README "Materialization"): its
    scoped cache and run_concurrently release on the exception path,
    which a hand-rolled persist…unpersist or executor scaffold does not.
    The generation-pin helpers moved there from operators/dedup.py."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "open_pulsar_spark"
    idiom = re.compile(r"\.persist\(|\.cache\(\)|\.unpersist\(|ThreadPoolExecutor")
    dedup_import = re.compile(
        r"from open_pulsar_spark\.operators\.dedup import\s*(\([^)]*\)|[^\n]*)"
    )
    hits = []
    for py in sorted(root.rglob("*.py")):
        if py == root / "materialize.py":
            continue
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if idiom.search(line):
                hits.append(f"{py.relative_to(root)}:{i}: {line.strip()}")
        for m in dedup_import.finditer(text):
            if {"_pin", "_pin_keyed", "_release"} & set(re.findall(r"\w+", m[1])):
                hits.append(f"{py.relative_to(root)}: {' '.join(m[0].split())}")
    assert not hits, (
        "materialization outside open_pulsar_spark/materialize.py — use "
        "scoped_cache / pin / run_concurrently:\n" + "\n".join(hits)
    )
