"""Physical-plan audit: the 100 TB posture, enforced by test.

Every registered query's physical plan is checked for the two
cluster-killers: cartesian products and *unintended* broadcast
nested-loop joins. Queries whose semantics genuinely need a non-equi
join against a broadcast-small side are allowlisted explicitly, so any
new accidental cross join fails CI instead of failing at scale.

Join strategy is otherwise the planner's: every explicit broadcast hint
must change its query's plan, and none may cover a raw fact scan.
"""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from python_sql_etl_project_spark import registry

registry.load_all()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_checkpoint(monkeypatch):
    """Audit the REAL plan: finalize_unpersist normally checkpoints the
    result (truncating lineage to a LogicalRDD scan, which would hide
    every join strategy of the iterative queries from this audit)."""
    monkeypatch.setenv("SPARK_GRAFT_NO_CHECKPOINT", "1")

#: name → reason a BroadcastNestedLoopJoin is intended and bounded.
BNLJ_ALLOWED = {
    "sim_knn_brute": "tiny query set broadcast against corpus (k-NN baseline)",
    "q22_dormant_rich_customers": "1-row scalar subquery broadcast",
    "sim_ivf_topk": "KB-scale codebook broadcast for cell assignment",
    "sim_ivf_recall_audit": (
        "sampled query set broadcast for the exact-recall baseline + the "
        "audited IVF plan's own codebook broadcast"
    ),
    "sim_kmeans_codebook": "KB-scale codebook broadcast per Lloyd iteration",
    "sim_semdedup_prune": "KB-scale codebook broadcast for cell assignment",
    "sim_knn_pandas_udf": "tiny query set broadcast against corpus",
    "sim_hard_negatives": (
        "tiny query set broadcast against corpus (triplet-mining "
        "baseline, same bound as sim_knn_brute)"
    ),
    "sim_matryoshka_audit": "tiny query set broadcast against corpus",
    "q11_revenue_concentration": "1-row global-total broadcast",
    "ld_partition_skew": "1-row (total, partition-count) aggregate broadcast",
    "dq_benford_audit": "1-row census-total broadcast over the 9-row census",
    "ts_autocorrelation": "constant 3-row lag table broadcast",
    "smp_balanced_upsample": "1-row max-count aggregate broadcast",
    "ld_column_histogram": "1-row (min, max) bounds broadcast",
    "graph_triangle_count": "two 1-row aggregates (census ⨯ triangle total)",
    "mm_phash_dup_clusters": (
        "1-row edges_truncated census broadcast onto the cluster rows "
        "(pair-budget truncation counter)"
    ),
    "agg_theil_index": "1-row grand-total (n, Σx) aggregate broadcast",
    "dq_referential_integrity_sweep": (
        "per-FK-edge pairing of two 1-row aggregates (base census ⨯ "
        "orphan count)"
    ),
    "ts_hourly_rollup_gapfill": (
        "dense hour×type grid from a 1-row span and the tiny type dim — "
        "bounded at |hours|×|types|, independent of event volume"
    ),
    "ts_locf_hourly_value": (
        "same bounded hour×type grid as ts_hourly_rollup_gapfill"
    ),
    "smp_curriculum_phases": "1-row tercile-boundary aggregate broadcast",
    "txt_bm25_search": (
        "1-row corpus-total (N, A) aggregate broadcast onto the "
        "query-term postings"
    ),
    "jn_association_rules": (
        "1-row order-total aggregate broadcast onto the 20-row rule set"
    ),
    "sim_ivfpq_search": (
        "KB-scale coarse-quantizer codebook broadcast for cell "
        "assignment (same bound as sim_ivf_topk)"
    ),
    "graph_modularity": (
        "1-row degree-total aggregate broadcast onto the community census"
    ),
    "ts_linear_interpolation": (
        "same bounded hour×type grid as ts_hourly_rollup_gapfill"
    ),
    "dq_sentinel_values": (
        "1-row census-total broadcast onto the top-N sentinel rows"
    ),
    "win_lifecycle_stages": "1-row max-date aggregate broadcast",
    "smp_budget_apportionment": (
        "1-row (total-weight, source-count) aggregate broadcast onto "
        "the |sources| quota rows"
    ),
    "sim_ivf_scaled_cells": (
        "KB-scale trained codebook broadcast per Lloyd round and for "
        "the final cell assignment (same bound as sim_kmeans_codebook)"
    ),
    "sim_ivfpq_residual": (
        "KB-scale trained codebook broadcast per Lloyd round and for "
        "the final cell assignment (same bound as sim_ivf_scaled_cells)"
    ),
    "dq_join_cardinality_estimate": (
        "1-row fact-count aggregate broadcast onto the |statuses| census"
    ),
    "mm_aspect_bucket_batches": (
        "5-row aspect-ladder literal broadcast against image metadata"
    ),
    "sim_ndcg_eval": (
        "tiny eval-query set broadcast against corpus (same bound as "
        "sim_knn_brute)"
    ),
    "ts_theil_sen_trend": (
        "calendar-grain month×month slope pairs (months² is span-bounded, "
        "independent of fact volume) + 1-row OLS-sums broadcast"
    ),
    "agg_chi_square_independence": (
        "dense |nations|×|priorities| contingency grid from two dim-grain "
        "marginals + 1-row total broadcast — bounded regardless of fact "
        "volume (the gap-fill-grid pattern)"
    ),
    "agg_kendall_tau": (
        "calendar-grain month×month concordance pairs (months² is "
        "span-bounded, the ts_theil_sen_trend class) + 1-row month-count "
        "broadcast"
    ),
    "agg_kruskal_wallis": (
        "two 1-row aggregate broadcasts (global N/ties total, then the "
        "decimal-summed H) onto the 5-row group frame"
    ),
    "graph_hits_hubs_authorities": (
        "1-row L1-normalization-total broadcast per half-iteration onto "
        "the node-grain score vector"
    ),
    "txt_pmi_cooccurrence": (
        "1-row corpus-doc-count broadcast onto the vocab-capped pair frame"
    ),
    "ts_seasonal_periodogram": (
        "37-row baked trig table broadcast joined on (day mod period) + "
        "1-row (n, sum) mean broadcast — day-grain frame, calendar-bounded"
    ),
    "sim_mmr_diversify": (
        "1-row query vector (a limit the planner sizes) joined to the "
        "corpus for the pool build, then the <=5-row selected set per "
        "greedy round (pool-bounded)"
    ),
    "smp_bootstrap_ci": (
        "1-row point-estimate aggregate broadcast onto the 1-row "
        "order-statistic frame"
    ),
    "graph_personalized_pagerank": (
        "1-row seed-node aggregate broadcast onto the node set per "
        "iteration"
    ),
    "agg_permutation_test": (
        "1-row observed-counts (cut, stat) broadcast onto the fact scan "
        "and the 32-row replicate census"
    ),
    "agg_spearman_correlation": (
        "pairing of 1-row aggregates (moment sums ⨯ the two tie totals)"
    ),
    "agg_benjamini_hochberg": (
        "5-row region-cut table broadcast (range-membership join) + 1-row "
        "grand-total broadcasts onto the fact scan and the 5-row panel"
    ),
    "ts_ljung_box": (
        "3-row lag table broadcast against the calendar-grain hourly "
        "series (the ts_autocorrelation class)"
    ),
    "smp_split_balance_audit": (
        "dense |splits|×|sources| grid from two dim-grain marginals + "
        "1-row total broadcast (the agg_chi_square_independence class)"
    ),
    "ts_kaplan_meier_sessions": (
        "1-row session-total broadcast onto the minute-grain duration "
        "census (bounded by the gap rule)"
    ),
    # round-8 sharded-rank rewrites: the n / (t, n) / (anchor, n) scalar
    # that ntile/percent_rank/cume/pareto arithmetic needs is ONE 1-row
    # aggregate broadcast instead of an unpartitioned window
    "win_customer_spend_quartiles": "1-row customer-count broadcast",
    "win_ntile_customer_quartiles": "1-row customer-count broadcast",
    "win_rfm_segments": "1-row (anchor-date, customer-count) broadcast",
    "agg_pareto_8020": "1-row (total-cents, customer-count) broadcast",
    "dq_join_key_skew": (
        "1-row fact-count broadcast onto the key census (replaces the "
        "unpartitioned census-total window)"
    ),
}

#: Streaming queries execute eagerly on .explain of the memory table;
#: audit their batch-equivalent cost via the strm tests instead.
SKIP = {name for name in registry.QUERIES if name.startswith("strm_")}


@pytest.mark.parametrize(
    "name", sorted(n for n in registry.QUERIES if n not in SKIP)
)
def test_no_unbounded_join_strategies(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unintended nested-loop join"
        )


#: Column signatures of tables that are fact-scale at the 100 TB
#: posture. A size-threshold auto-broadcast is scale-ADAPTIVE (Catalyst
#: only picks it while the side is genuinely small), but an explicit
#: ``F.broadcast()`` hint overrides the threshold at ANY scale — hinting
#: a raw fact side OOMs executors at 100 TB even though the plan is a
#: legal BroadcastHashJoin at test scale (ADVICE.md round 1). The
#: signature is the table's key column as printed in the analyzed plan's
#: ``Relation [...]`` line.
_FACT_SIGNATURES = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: Logical nodes that bound a hinted subtree's size regardless of its
#: source table: an aggregation, distinct, limit or sample between the
#: fact relation and the hint means a *derivative* (candidate set,
#: global total, hot-key census, tiny probe set) is broadcast, not the
#: fact itself.
_BOUNDING_NODES = ("Aggregate", "Deduplicate", "GlobalLimit", "Sample")

#: name → reason a broadcast hint over a fact-table subtree is bounded
#: by something the node-detector can't see (e.g. a constant key-range
#: filter that fixes the row count independent of corpus size).
FACT_HINT_ALLOWED = {
    "sim_kmeans_codebook": (
        "initial codebook is Filter(vec_id < K): constant K rows; later "
        "iterations' codebooks pass through the Aggregate bound"
    ),
    "sim_ivf_scaled_cells": (
        "seed codebook is Filter(vec_id < 32): constant 32 rows; trained "
        "codebooks pass through the Aggregate bound"
    ),
    "sim_ivfpq_search": (
        "seed codebook is Filter(vec_id < 32): constant 32 rows; trained "
        "codebooks and PQ codeword tables pass through the Aggregate bound"
    ),
    "sim_ivfpq_residual": (
        "seed codebook is Filter(vec_id < 32): constant 32 rows; trained "
        "codebooks and residual codeword tables pass through the "
        "Aggregate bound"
    ),
}


def _node_depth(line: str) -> int:
    """Depth of a plan-tree line = offset of the operator name past the
    ':  +- ' scaffolding."""
    i = 0
    while i < len(line) and line[i] in " :+-*(0123456789)":
        i += 1
    return i


def _hinted_subtrees(plan: str):
    """Yield the list of lines under each broadcast ResolvedHint node of
    an analyzed logical plan."""
    lines = plan.splitlines()
    for idx, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line:
            continue
        depth = _node_depth(line)
        sub = []
        for nxt in lines[idx + 1 :]:
            if nxt.strip() and _node_depth(nxt) <= depth:
                break
            sub.append(nxt)
        yield sub


def _raw_fact_hints(spark, name):
    """Text of each broadcast-hinted subtree of ``name``'s analyzed plan
    that scans a fact table with no bounding node in between."""
    df = registry.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString()
    raw = []
    for sub in _hinted_subtrees(plan):
        text = "\n".join(sub)
        scans_fact = any(
            f" {sig}" in text or f"[{sig}" in text
            for sig in _FACT_SIGNATURES.values()
        ) and "Relation" in text
        if scans_fact and not any(n in text for n in _BOUNDING_NODES):
            raw.append(text)
    return raw


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n in registry.QUERIES
        if n not in SKIP and n not in FACT_HINT_ALLOWED
    ),
)
def test_no_raw_fact_broadcast_hint(spark, name):
    """No explicit broadcast hint may cover an unbounded fact-table scan:
    every ``F.broadcast()`` whose subtree reads a fact table must pass
    through an aggregation/distinct/limit first. Checked on the analyzed
    logical plan (where hints are still visible) rather than the physical
    plan, so Catalyst's own threshold-gated auto-broadcasts — which stop
    happening once the side outgrows the threshold — don't false-alarm."""
    raw = _raw_fact_hints(spark, name)
    assert not raw, f"{name}: broadcast hint over a raw fact scan:\n{raw[0][:2000]}"


@pytest.mark.parametrize("name", sorted(FACT_HINT_ALLOWED))
def test_fact_hint_allowlist_is_current(spark, name):
    """Every ``FACT_HINT_ALLOWED`` entry still hints a fact subtree the
    node detector cannot bound, so the list cannot go stale."""
    assert _raw_fact_hints(spark, name), (
        f"{name} no longer hints a raw fact subtree: drop its "
        "FACT_HINT_ALLOWED entry"
    )


#: sf0.01, not sf0.001: at sf0.001 every side shrinks under the
#: auto-broadcast threshold, so a hint that is needed at sf0.01 would
#: look redundant.
HINT_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

#: The session's 64 MB broadcast threshold scaled from sf100 down to
#: sf0.01 (x1e-4): every table that grows with the scale factor is past
#: it, as at sf100, while nation and region stay under.
SF100_THRESHOLD = 64 * 1024 * 1024 // 10_000


@pytest.mark.parametrize(
    "name",
    [
        "sim_knn_brute",
        "sim_knn_pandas_udf",
        "sim_hard_negatives",
        "sim_matryoshka_audit",
        "sim_ivf_recall_audit",
        "sim_mmr_diversify",
        "sim_ndcg_eval",
    ],
)
def test_constant_query_set_broadcasts_past_the_threshold(
    spark, name, monkeypatch
):
    """The brute-force k-NN family, the NDCG eval and the MMR pool build
    join the corpus to a constant query set on a non-equi condition,
    unhinted.
    With the broadcast threshold scaled to sf100 (the corpus past it),
    the query set must still be broadcast by its planner-visible row
    count: a cartesian product here is the large-scale failure."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    monkeypatch.setattr(_CDF, "localCheckpoint", lambda self, *a, **k: self)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(SF100_THRESHOLD))
    try:
        df = registry.QUERIES[name](spark, HINT_SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]


def _calls_broadcast(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "broadcast"
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F"
        for n in ast.walk(fn)
    )


def _hinting_queries():
    """Registered queries whose own function body calls ``F.broadcast``
    (hints in shared helpers are judged through their callers)."""
    root = pathlib.Path(registry.__file__).parent
    names = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, ast.FunctionDef) or not _calls_broadcast(node):
                continue
            for d in node.decorator_list:
                if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query":
                    names.append(d.args[0].value)
    return sorted(names)


def _normalized_plan(df) -> str:
    """Executed plan text without what differs between two builds of one
    plan: expression and plan ids, lambda-variable suffixes, and the
    truncated scan filters whose cut point moves with the ids."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pattern, repl in (
        (r"#\d+L?", ""),
        (r"plan_id=\d+", ""),
        (r"(lambda \w+?)_\d+\b", r"\1"),
        (r"(FileScan .*?)DataFilters: .*", r"\1"),
    ):
        plan = re.sub(pattern, repl, plan)
    return plan


def _plan_skeleton(plan: str) -> str:
    """The operator tree of a plan text without operator arguments, but
    with each join's build side: what a broadcast hint can change."""
    lines = []
    for line in plan.splitlines():
        m = re.match(r"([\s:+\-*()\d]*)(\w+)", line)
        if m:
            side = re.search(r"\bBuild(Left|Right)\b", line)
            node = m.group(1) + m.group(2)
            lines.append(f"{node} {side.group(0)}" if side else node)
    return "\n".join(lines)


#: name → what bounds the side it hints independent of scale, for hints
#: that change the plan only past ``SF100_THRESHOLD``. Catalyst sizes a
#: grouped aggregate (or a window over one) like the scan under it, so
#: unhinted such a side would be shuffle-joined at sf100, shuffling the
#: large side it is joined to.
SCALE_BOUNDED_HINTS = {
    "agg_approx_sketches": "per-l_returnflag approx medians (3 rows)",
    "agg_cohort_ltv": "cohort sizes per order month (calendar-bounded)",
    "agg_entropy_mix": "per-source totals (|sources| rows)",
    "agg_kruskal_wallis": "shard-grain rank offsets (N/span rows)",
    "agg_mann_whitney_u": "shard-grain rank offsets (N/span rows)",
    "agg_median_abs_deviation": "per-event-type medians",
    "pipe_dataset_card": "per-source modal language (|sources| rows)",
    "sim_pq_audit": "PQ centroids: |labels| x embedding dims rows",
    "sk_countmin_heavy_hitters": "two count-min rows of CMS_WIDTH counters",
    "smp_systematic_resample": "shard-grain weight offsets (N/span rows)",
    "ts_seasonality_index": "per-event-type hourly means",
    "txt_js_divergence": "per-source token totals (|sources| rows)",
    "win_markov_transitions": "per-state transition totals (|event types| rows)",
    "win_retention_halflife": "cohort sizes per signup week (calendar-bounded)",
    "win_skyline_price_recency": "skyline over per-day maxima (<= |days| rows)",
}


def test_scale_bounded_hints_are_hinting_queries():
    assert set(SCALE_BOUNDED_HINTS) <= set(_hinting_queries())


@pytest.mark.parametrize(
    "name", [n for n in _hinting_queries() if n not in SKIP]
)
def test_broadcast_hints_are_load_bearing(spark, name, monkeypatch):
    """Join strategy is the planner's call (the session's broadcast
    threshold plus AQE). A query may force ``F.broadcast`` only where
    its sf0.01 physical plan changes without the hint: a flipped build
    side, a sort-merge join or a cartesian product the planner would
    pick instead. A hint the planner already reproduces is dead weight
    and, at a larger scale, a forced broadcast of a growing side. A hint
    on a side bounded independent of scale (``SCALE_BOUNDED_HINTS``) is
    checked at ``SF100_THRESHOLD``, where its estimate outgrows it."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    monkeypatch.setattr(_CDF, "localCheckpoint", lambda self, *a, **k: self)
    key = "spark.sql.autoBroadcastJoinThreshold"
    if name in SCALE_BOUNDED_HINTS:
        threshold = str(SF100_THRESHOLD)
    else:
        threshold = spark.conf.get(key)

    def plan():
        prev = spark.conf.get(key)
        spark.conf.set(key, threshold)
        try:
            df = registry.QUERIES[name](spark, HINT_SF_DIR)
            return _normalized_plan(df)
        finally:
            spark.conf.set(key, prev)
            spark.catalog.clearCache()

    hinted, again = plan(), plan()
    monkeypatch.setattr(F, "broadcast", lambda df: df)
    bare = plan()
    if hinted != again:
        # Not a stable fingerprint: distinct aggregates number their
        # grouping sets in expression-id hash order, which moves from
        # build to build. Compare operator trees instead.
        hinted, again, bare = map(_plan_skeleton, (hinted, again, bare))
        assert hinted == again, f"{name}: hinted plan differs between builds"
    assert hinted != bare, (
        f"{name}: the planner picks the same plan without its "
        "F.broadcast hints; delete them"
    )


def test_lpa_rounds_stay_hashaggregate_single_exchange(spark, monkeypatch):
    """Pin the round-11 LPA physical-plan win (VERDICT r11 next-round
    #4): each label-propagation round must plan its two aggregations as
    whole-stage-codegen HashAggregate (the DECIMAL-packed argmax — a
    max(struct(...)) regression would reintroduce SortAggregate and its
    two full sorts per round) with exactly ONE deliberate
    ``repartition("src")`` exchange per round satisfying both groupBys.

    The per-round ``localCheckpoint`` truncates lineage (the production
    final plan is just an RDD scan), so the audit neutralizes it to see
    the full multi-round plan."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    import python_sql_etl_project_spark.operators.graph as g

    monkeypatch.setattr(
        _CDF, "localCheckpoint", lambda self, *a, **k: self
    )
    pairs = g._copurchase_pairs(spark, SF_DIR)
    labels = g._lpa_labels(spark, "plan-audit", pairs, fresh=True)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan[:3000]
    assert plan.count("HashAggregate") >= 4 * g.LPA_ROUNDS  # 2 aggs × (partial+final)
    assert plan.count("REPARTITION_BY_COL") == g.LPA_ROUNDS


def _plan_nodes(node):
    """Every node of a physical plan tree, through the adaptive wrapper."""
    yield node
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.inputPlan())
        return
    children = node.children().iterator()
    while children.hasNext():
        yield from _plan_nodes(children.next())


def test_anti_join_existing_side_is_not_deduplicated(spark):
    """The existing-key side of ``anti_join`` is a bare key projection:
    duplicate keys cannot change a left-anti result, so no aggregate and
    no shuffle deduplicate them first. (``test_anti_join_is_set_difference``
    pins the result with duplicate right-side keys.)"""
    from python_sql_etl_project_spark.operators.relational import anti_join

    new = spark.range(100).selectExpr("id AS k", "id AS v")
    existing = spark.range(60).selectExpr("id % 20 AS k")
    plan = anti_join(new, existing, "k")._jdf.queryExecution().executedPlan()
    joins = [n for n in _plan_nodes(plan) if n.nodeName().endswith("Join")]
    assert len(joins) == 1, plan.toString()
    build = {n.nodeName() for n in _plan_nodes(joins[0].right())}
    assert not build & {"HashAggregate", "Exchange"}, plan.toString()
