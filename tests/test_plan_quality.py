"""Catalyst plan pins for the headline queries (the 100-TB design audit,
mechanized): predicate pushdown reaches the parquet scan, column pruning
holds, dims broadcast, aggregates have map-side partial phases, and no
plan regresses to a BroadcastNestedLoopJoin or a Python eval node in a
JVM-only operator. Complements the operator-specific pins
(test_assign_seq, test_ann_index)."""

import pytest

from mycelium_spark.plans import entries

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = entries.QUERIES[name](spark, SF_DIR)
    return df, df._jdf.queryExecution().executedPlan().toString()


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    df, plan = _plan(spark, "q1_lineitem_agg")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: html-sized table columns never read
    assert "l_comment" not in plan


def test_q1_partial_aggregation(spark):
    _, plan = _plan(spark, "q1_lineitem_agg")
    # map-side combine before the exchange: partial then final HashAggregate
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Partial" in plan


def test_broadcast_dim_join_is_broadcast_hash(spark):
    _, plan = _plan(spark, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q3_broadcasts_filtered_customer(spark):
    _, plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    # the BUILDING filter must sit under the broadcast, not after the join
    assert "c_mktsegment" in plan


def test_exact_dedup_shuffles_hash_not_text(spark):
    df, _ = _plan(spark, "exact_dedup")
    opt = _optimized(df)
    # the exchange key is md5(text) — text itself is consumed below the
    # aggregate, never carried through the shuffle output
    assert "md5" in opt
    _, plan = _plan(spark, "exact_dedup")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_jvm_only_operators_have_no_python_nodes(spark):
    for name in ("minhash_dedup", "simhash_neardup", "exact_dedup",
                 "repeated_spans", "tf_idf", "dup_clusters", "cosine_topk"):
        _, plan = _plan(spark, name)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, f"{name}: {marker} in plan"


def test_no_nested_loop_joins_anywhere(spark):
    for name in ("minhash_dedup", "simhash_neardup", "ngram_jaccard_dedup",
                 "q3_shipping_priority", "q5_local_supplier_volume",
                 "seen_anti_join", "broadcast_dim_join"):
        _, plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_cosine_topk_is_take_ordered(spark):
    _, plan = _plan(spark, "cosine_topk")
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts


def test_events_scan_prunes_columns(spark):
    df, plan = _plan(spark, "host_grouping")
    # only the aggregation inputs are read from parquet
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "user_id" in read_schema and "value" in read_schema
    assert "payload" not in read_schema and "event_type" not in read_schema


def test_repetition_filter_jvm_with_partial_agg(spark):
    """The repetition rules are pure JVM (no Python eval anywhere) and the
    top-n-gram counts get a map-side partial aggregate before shuffling
    (doc_id, gram) keys."""
    _, plan = _plan(spark, "repetition_filter")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_removal_jvm_splice(spark):
    """Span removal: the splice is a per-row array expression — document
    text is never exploded, and no Python node appears."""
    _, plan = _plan(spark, "span_removal")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    assert "CartesianProduct" not in plan
    # repeated_spans' posexplode runs over shingle hashes; the doc text
    # itself rides only the doc_id join (one Generate from the spans
    # branch, none over the text column)
    assert "BroadcastNestedLoopJoin" not in plan


def test_redirect_resolver_equi_joins_only(spark):
    """Chain resolution is hash equi-joins on url — the closure's four
    compositions and the batch lookup — never a nested-loop/cartesian
    plan, and the edge follow UDF is the only Python stage
    (Arrow-batched, once per edge)."""
    _, plan = _plan(spark, "redirect_resolve")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_decontaminate_broadcasts_eval_set(spark):
    """The eval-shingle side is benchmark-suite-sized — it must broadcast
    into the gram join (no shuffle of the exploded corpus grams on
    gram_h), and the per-doc counts must partial-aggregate map-side."""
    _, plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final per-doc counts
