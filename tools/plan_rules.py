"""Plan rules for the registered queries, checked on one build of each.

Correctness says the answer is right at the fixture scale; these rules
say the PLAN is the one we would want at 100 TB: filters reach the scan,
scans prune columns, small dims broadcast, aggregates have a map-side
partial phase, and nothing degenerates into an all-pairs join. These
properties regress silently when a query is refactored, and the
formatted explain is the only place they are visible.

Every query is held to the global rules (no CartesianProduct;
BroadcastNestedLoopJoin and SortAggregate only where the allow-lists
say why), then to its ``@contract`` function, if it has one. Both run on
the formatted plan of the frame the parity check is about to compare,
taken before it runs: ``tools/parity.py`` calls ``plan_problems``, and
``tests/test_plan_audit.py`` asserts each rule by name on the plan the
oracle parity test stored.
"""

from __future__ import annotations

import re
from typing import Callable

# A crossJoin against a broadcast side that is tiny by construction;
# everything else must be hash-joinable.
BNLJ_ALLOWED = {
    "q_heavy_hitters": "1-row sketch map broadcast into the top-10 judge",
    "q_ks_lengths": "sources x broadcast O(distinct-lengths) ECDF grid",
    "q_sample_temperature": "1-row n_min scalar broadcast into the per-source rates",
    "q_similarity_ann": "16-row centroid crossJoin, 2x faster at sf0.1 than the Arrow form",
    "q_similarity_topk": "corpus x broadcast query sample on query_id != vec_id",
    "q_text_tfidf": "1-row n_langs total broadcast into the scored terms",
}

# Spark plans SortAggregate when a buffer or key has no hash-aggregate
# form (struct, string or binary min/max, collated keys). Each entry says
# what is sorted and why the sort is affordable there.
SORT_AGG_ALLOWED = {
    "q_bitmap_distinct": "4 KB BINARY bitmaps; the hash form is count(DISTINCT)'s Expand",
    "q_cdc_apply": "struct max picks the winning change per key",
    "q_collated_group": "UTF8_LCASE group keys; the lower() hash form is the oracle",
    "q_cusum_drift": "max(struct(adev, nd)) peak-deviation day, read in the window's sort order",
    "q_dedup_fuzzy_ledger": "struct min keeper pick over clustered docs only",
    "q_dedup_incremental": "min(source) string survivor pick per fingerprint",
    "q_gap_islands": "struct min longest-streak pick over O(islands) rows",
    "q_interval_overlap": "max(struct(conc, nt)) peak concurrency, partial in window sort order",
    "q_minmax_by": "struct min/max argmin and argmax picks",
    "q_ohlc_bars": "struct min/max open/close picks: one sort, not the oracle's two windows",
    "q_pipeline_e2e": "min(source) string survivor pick per fingerprint",
    "q_profile_columns": "level-2 measures after the hash collapse, O(distinct values) rows",
    "q_variant_explode": "min/max(STRING) over distinct (key, value) pairs, not the corpus",
}

CONTRACTS: dict[str, Callable[[str], None]] = {}


def contract(name: str):
    """Register the decorated function as query ``name``'s plan contract."""

    def deco(fn: Callable[[str], None]) -> Callable[[str], None]:
        if name in CONTRACTS:
            raise ValueError(f"{name} already has a plan contract")
        CONTRACTS[name] = fn
        return fn

    return deco


def formatted_plan(df) -> str:
    """``df``'s formatted explain: AQE's initial plan until ``df`` runs,
    its final plan after."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def global_problems(name: str, plan: str) -> list[str]:
    """The global rules ``plan`` breaks."""
    problems = []
    if "CartesianProduct" in plan:
        problems.append(f"{name} degenerated to all-pairs (CartesianProduct)")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
        problems.append(f"{name} has an unplanned BroadcastNestedLoopJoin")
    if "SortAggregate" in plan and name not in SORT_AGG_ALLOWED:
        problems.append(f"{name} has an unplanned SortAggregate")
    return problems


def plan_problems(name: str, plan: str) -> list[str]:
    """Every rule query ``name``'s formatted ``plan`` breaks: the global
    rules, then its contract if it has one."""
    problems = global_problems(name, plan)
    check = CONTRACTS.get(name)
    if check is not None:
        try:
            check(plan)
        except AssertionError as ex:
            problems.append(f"plan contract {check.__name__} failed: {ex}")
    return problems


def _plan_tree(plan: str) -> str:
    """The tree block of a formatted explain (the detail section below
    repeats every node name, so counts must run on the tree only)."""
    return plan.split("\n\n")[0]


@contract("q_filter_predicate")
def filter_pushed_to_scan(plan):
    """Q03's shipdate/discount/quantity predicates must reach the parquet
    reader as PushedFilters, not run as a post-scan Filter only."""
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


@contract("q_scan_project")
def scan_prunes_columns(plan):
    """Q01 projects 4 columns; the scan's ReadSchema must not include the
    other 12 lineitem columns."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}


@contract("q_join_broadcast")
def broadcast_join_hint_honored(plan):
    """Q12's explicit broadcast(part) must produce a BroadcastHashJoin."""
    assert "BroadcastHashJoin" in plan, plan


@contract("q_join_multi")
def multi_join_broadcasts_small_dims(plan):
    """Q07 joins lineitem against orders/customer/nation/region; the tiny
    dims (nation 25 rows, region 5 rows) must go broadcast, not shuffle."""
    assert plan.count("BroadcastHashJoin") >= 2, plan


@contract("q_pricing_summary")
def aggregate_is_partial_then_final(plan):
    """Q15 must run as partial (map-side) + final HashAggregate — the
    map-side combine that keeps the shuffle proportional to groups, not
    rows. Two HashAggregate nodes with a shuffle between them."""
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2, plan
    assert "Exchange" in plan, plan


@contract("q_topk_global")
def global_topk_is_heap_merge(plan):
    """Q26 must plan as TakeOrderedAndProject (per-partition k-row heaps
    merged at the driver) — never a global sort of the full table."""
    assert "TakeOrderedAndProject" in plan, plan


@contract("q_topk_per_group")
def per_group_topk_uses_group_limit(plan):
    """Q27's rank-filter must push into the sort as WindowGroupLimit so
    each group materializes only k rows, not its full membership."""
    assert "WindowGroupLimit" in plan, plan


@contract("q_sample_stratified")
def stratified_sample_is_shuffle_free(plan):
    """Q62's content-hash sampling must be a pure map-side filter — no
    Exchange anywhere in the plan (at 100 TB it rides the scan)."""
    assert "Exchange" not in plan, plan


@contract("q_source_quota")
def source_quota_uses_group_limit(plan):
    """Q63's per-source cap must collapse to WindowGroupLimit: each
    source materializes only quota rows before the final window."""
    assert "WindowGroupLimit" in plan, plan


@contract("q_similarity_topk")
def similarity_topk_partial_before_window(plan):
    """Q45's per-query top-k must be reduced map-side (MapInPandas heap)
    BEFORE the window's exchange — the full queries×corpus scored set
    must never be shuffled into a per-query window partition."""
    assert "MapInPandas" in plan, plan
    # The final window still exists, but it ranks the reduced set.
    assert "Window" in plan, plan


@contract("q_dedup_fuzzy")
def dedup_fuzzy_banded_shape(plan):
    """Q44's candidate generation must be the banding groupBy (shuffle
    keyed on fixed-size band keys), with signatures from one Arrow
    pandas-UDF stage — no self-join of the corpus, no cartesian."""
    assert "ArrowEvalPython" in plan, plan  # vectorized signature stage
    # banding aggregate keyed on (band, k1, k2)
    assert re.search(r"hashpartitioning\(band", plan), plan


@contract("q_similarity_ann")
def similarity_ann_cell_equijoin(plan):
    """Q54's search join must be an equi-join on cell_id (broadcast of
    the tiny query side), never an all-pairs score."""
    assert "BroadcastHashJoin" in plan, plan


@contract("q_kmeans")
def kmeans_assignment_is_shuffle_free_projection(plan):
    """Q76's final-round plan: the model is driver-held literals, so
    assignment must be a pure narrow projection — NO join of any kind,
    and the vector table is never repartitioned (no hashpartitioning on
    vec_id). The only exchanges are the O(k·d) model-update aggregations
    keyed on (cell, dim) / (cell)."""
    assert "Join" not in plan, plan
    assert not re.search(r"hashpartitioning\(vec_id", plan), plan
    assert re.search(r"hashpartitioning\(cell", plan), plan


@contract("q_pii_mask")
def pii_mask_is_shuffle_free(plan):
    """Q69's scrub must be a pure narrow map — regex + hash inside
    codegen, no Exchange and no Python eval anywhere (the property that
    lets the scrub ride the ingest scan at 100 TB)."""
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


@contract("q_decontaminate")
def decontaminate_broadcasts_probe(plan):
    """Q68's probe (benchmark) shingle set must broadcast into a hash
    join against the exploded corpus — never a shuffle of the corpus
    keyed on shingle, and never all-pairs."""
    assert "BroadcastHashJoin" in plan, plan


@contract("q_repetition")
def repetition_mode_is_partial_agg(plan):
    """Q70's bigram-mode branch must carry a map-side partial
    HashAggregate before its exchange so the shuffle is keyed on
    (doc_id, bigram) counts, not raw bigram rows."""
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2, plan


@contract("q_window_distribution")
def window_distribution_single_exchange(plan):
    """Q71's five window functions (ntile/percent_rank/cume_dist/
    first/last) must collapse into ONE Window operator behind ONE
    exchange + ONE sort — Catalyst's same-window-spec collapse, the
    property that makes stacking window columns free at scale."""
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


@contract("q_events_retention")
def retention_aggregates_before_join(plan):
    """Q72's first-touch and active-week branches must both reduce to
    per-user/per-(user,week) aggregates BEFORE the user-keyed join —
    raw events never reach a join input."""
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 4, plan


@contract("q_join_range")
def range_join_is_bucketed_equijoin(plan):
    """Q74 must plan as an equi-join whose keys include the synthetic
    __bucket column — the inequality never becomes the join condition
    alone (that would be a nested loop)."""
    assert "__bucket" in plan, plan


@contract("q_zscore_outliers")
def zscore_broadcasts_moments(plan):
    """Q83's per-type moments must broadcast back onto the event stream
    (aggregate-then-broadcast), so the z-score is computed map-side —
    the big side is never shuffled by event_type for the join."""
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@contract("q_pack_sequences")
def pack_sequences_single_shuffle(plan):
    """Q81 must cost exactly one exchange: the window's hash partition
    on lang. The downstream (lang, bin) aggregate reuses that
    partitioning (lang is a prefix of the grouping key), so no second
    shuffle appears."""
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan


@contract("q_time_rollup")
def time_rollup_is_one_pass(plan):
    """Q80's three grains (hour/day/total) must come from ONE scan +
    ONE Expand + partial/final aggregate — not three scans or a union
    of three aggregates."""
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan


@contract("q_scalar_subquery")
def scalar_subquery_decorrelates(plan):
    """Q79's correlated subquery must decorrelate into aggregate-then-
    broadcast-join (no per-row subplan execution, no cartesian)."""
    assert "BroadcastHashJoin" in plan, plan


@contract("q_not_exists")
def not_exists_decorrelates_to_anti_join(plan):
    """Q93's NOT EXISTS must compile to a LEFT ANTI join on the
    correlation key — never a per-row subquery or a nested-loop join."""
    assert "LeftAnti" in plan, plan


@contract("q_dedup_incremental")
def dedup_incremental_is_anti_join_on_fingerprint(plan):
    """Q92's batch-vs-corpus check must be an anti equi-join (hash or
    broadcast) on the md5 key, with the corpus side reduced to distinct
    fingerprints BEFORE the join — not a join against full documents."""
    assert "LeftAnti" in plan, plan
    # corpus side: distinct() is an aggregate somewhere below the join
    assert "HashAggregate" in plan, plan


@contract("q_pipeline_e2e")
def pipeline_e2e_filters_in_scan_stage(plan):
    """Q94's language gate must reach the parquet reader as a pushed
    filter, and columns the composed plan never uses (n_chars — and even
    doc_id, whose min() is dead code after the final projection) must be
    pruned from the scan."""
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(lang,en)" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "n_chars" not in cols, cols
    assert "text" in cols and "lang" in cols, cols


@contract("q_sample_temperature")
def sample_temperature_broadcasts_rates(plan):
    """Q97's data-dependent rates must be aggregate-then-broadcast: the
    per-source rate relation joins the corpus as a BroadcastHashJoin,
    so the corpus itself is never shuffled for membership — the only
    exchange feeds the O(sources) count aggregate."""
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


@contract("q_dedup_embedding_ivf")
def dedup_embedding_ivf_cell_equijoin(plan):
    """Q99's pair stage must be keyed on the computed k-means cell id
    (hash-partitionable — since round 13 a grouped all-pairs numpy
    kernel fed by ONE cell-keyed exchange; before that an equi-join),
    never a global all-pairs score; and the assignment rounds inherit
    q_kmeans' shape — the model is broadcast as plan literals, so the
    vector table is never repartitioned by vec_id."""
    # test-scale: one side fits the broadcast threshold → BHJ keyed on
    # cell; at scale the same equi-join hash-partitions on cell instead
    assert "BroadcastHashJoin" in plan or re.search(
        r"hashpartitioning\(cell", plan
    ), plan
    assert not re.search(r"hashpartitioning\(vec_id", plan), plan


@contract("q_quality_classifier")
def quality_classifier_is_shuffle_free(plan):
    """Q102's hashed-bigram linear scoring must be a pure narrow map —
    hash + weight fold inside Catalyst HOFs, no Exchange and no Python
    eval (the property that lets model-based quality filtering ride
    the ingest scan at 100 TB, like Q69's PII scrub)."""
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


@contract("q_quality_classifier_trained")
def trained_classifier_scoring_is_shuffle_free(plan):
    """Q106's RETURNED plan must have Q102's exact shape: the fit runs
    as separate training jobs at plan-build, the baked literal-weight
    scoring pass is a pure narrow map — no Exchange, no Python eval.
    This is the docstring claim of Q102 ('a trained model swaps the
    weight expression... plan shape identical') made checkable."""
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


@contract("q_events_attribution")
def attribution_is_windowed_not_joined(plan):
    """Q115's whole point: last-touch attribution compiles to ONE keyed
    window plus the day aggregate — exactly two hash exchanges
    (user_id, then day), NO join of any kind (the naive quadratic form
    is an interval self-join), and the window's sort is partition-local
    (no range exchange = no global sort)."""
    tree = _plan_tree(plan)
    assert "Join" not in tree, tree
    assert tree.count("Exchange") == 2, tree
    assert "rangepartitioning" not in tree, tree
    assert "Window" in tree, tree


@contract("q_scd2_merge")
def scd2_single_exchange_no_join(plan):
    """Q108: UNION ALL is a free plan concat; the entire SCD2 rebuild
    hangs off ONE hash exchange on custkey — no join, no global sort
    (the per-key sort runs inside partitions)."""
    tree = _plan_tree(plan)
    assert tree.count("Exchange") == 1, tree
    assert "Join" not in tree, tree
    assert "rangepartitioning" not in tree, tree


@contract("q_hll_rollup")
def hll_rollup_stays_on_object_hash_path(plan):
    """Q116: sketch aggregation buffers must ride ObjectHashAggregate
    (the hash path for typed buffers) — SortAggregate here would sort
    the full stream per level; and the O(types) merged/direct join must
    broadcast, never shuffle."""
    tree = _plan_tree(plan)
    assert "ObjectHashAggregate" in tree, tree
    assert "SortAggregate" not in tree, tree
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


@contract("q_cdc_apply")
def cdc_changelog_collapses_map_side(plan):
    """Q114: the struct-max winner-per-key aggregate must have a
    partial phase BEFORE its exchange (the changelog — the big side at
    100 TB — collapses to one row per key map-side), then exactly one
    full-outer join applies the merge."""
    tree = _plan_tree(plan)
    assert tree.count("FullOuter") == 1, tree
    # two SortAggregate phases (partial below the exchange, final above)
    assert tree.count("SortAggregate") == 2, tree
    first_agg = tree.find("SortAggregate")
    exchange_between = tree.find("Exchange", first_agg)
    assert exchange_between != -1, tree


@contract("q_doc_chunks")
def doc_chunks_has_no_keyed_exchange(plan):
    """Q120 is a pure narrow transform: the only Exchange allowed is
    the round-robin ingest repartition — never a hash or range
    partition, never a join, never an aggregate."""
    tree = _plan_tree(plan)
    assert "hashpartitioning" not in tree, tree
    assert "rangepartitioning" not in tree, tree
    assert "Join" not in tree, tree
    assert "Aggregate" not in tree, tree
