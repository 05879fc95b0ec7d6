"""Physical-plan invariants: the scale claims as executable assertions.

Each assertion here is a design claim from the module docstrings; if a
refactor regresses one (a dimension stops broadcasting, a filter stops
pushing down, top-k starts global-sorting), this fails before any benchmark
notices.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entry_mod
from nano_vectordb_rs_spark.plans import audit_plan
from tests.conftest import SF_DIR

SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.1")
SF0001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def test_knn_topk_is_shuffle_free_bounded_topk(spark, queries):
    a = audit_plan(queries["knn_topk"](spark, SF_DIR))
    # scan → score → TakeOrderedAndProject: no Exchange anywhere — each task
    # returns at most k rows to the driver (reference's fold/reduce shape)
    assert a["has_take_ordered"]
    assert a["n_shuffles"] == 0


def test_knn_filtered_pushes_label_to_scan(spark, queries):
    a = audit_plan(queries["knn_filtered"](spark, SF_DIR))
    assert any("label" in p for p in a["pushed_filters"])
    assert a["has_take_ordered"] and a["n_shuffles"] == 0


def test_tpch_q1_single_shuffle_pushdown(spark, queries):
    df = queries["tpch_q1_pricing"](spark, SF_DIR)
    df.collect()  # finalize the AQE plan so codegen stage markers exist
    a = audit_plan(df)
    # partial agg → one hash Exchange on the group keys → final agg; the
    # shipdate predicate reaches the parquet scan; order-by adds one range
    # Exchange over 6 rows (harmless)
    assert any("l_shipdate" in p for p in a["pushed_filters"])
    assert a["n_shuffles"] <= 2
    assert a["codegen_stages"] >= 1


def test_tpch_q3_broadcasts_customer(spark, queries):
    a = audit_plan(queries["tpch_q3_shipping"](spark, SF_DIR))
    assert a["n_broadcast_joins"] >= 1
    assert any("c_mktsegment" in p for p in a["pushed_filters"])


def test_tpch_q5_broadcasts_whole_dimension_chain(spark, queries):
    a = audit_plan(queries["tpch_q5_regional"](spark, SF_DIR))
    # region→nation→customer collapse into broadcast dims; at fixture scale
    # AQE may also broadcast the orders side of the fact join — require at
    # least the dimension broadcasts and no cartesian anywhere
    assert a["n_broadcast_joins"] >= 2
    assert a["n_nested_loop_joins"] == 0


def test_get_by_ids_is_broadcast_semi_join(spark, queries):
    a = audit_plan(queries["get_by_ids"](spark, SF_DIR))
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sort_merge_joins"] == 0


def test_events_range_band_join_is_broadcast_nested_loop(spark, queries):
    a = audit_plan(queries["events_value_bands"](spark, SF_DIR))
    # the O(10)-row band table must be the nested-loop build side — a
    # sort-merge/cartesian here would be a planning regression
    assert a["n_broadcast_joins"] >= 1


def test_q6_predicates_reach_scan(spark, queries):
    a = audit_plan(queries["tpch_q6_forecast"](spark, SF_DIR))
    pushed = " ".join(a["pushed_filters"])
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q8_star_broadcasts_every_dimension(spark, queries):
    a = audit_plan(queries["tpch_q8_market_share"](spark, SF_DIR))
    # part, cust-in-region, supplier, nation x2 (region folded into the
    # customer pre-join) all broadcast; only the fact-to-fact join and the
    # year aggregation may shuffle
    assert a["n_broadcast_joins"] >= 5
    assert a["n_shuffles"] <= 3
    assert any("p_type" in p for p in a["pushed_filters"])


def test_tpch_q19_disjunctive_predicate_reaches_scan(spark, queries):
    a = audit_plan(queries["tpch_q19_disjunctive"](spark, SF_DIR))
    # the OR-of-conjunctions on plain columns must push to the lineitem scan
    # (row-group skipping), not evaluate post-join only
    assert any("Or" in p or "l_quantity" in p for p in a["pushed_filters"])
    assert a["n_broadcast_joins"] >= 1


def test_trailing_revenue_reuses_suppkey_partitioning(spark, queries):
    a = audit_plan(queries["supplier_trailing_revenue"](spark, SF_DIR))
    # day pre-aggregate shuffles on (suppkey, day); the window needs suppkey
    # partitioning; plus the output sort — bounded small constant, and the
    # suppkey filter reaches the scan
    assert a["n_shuffles"] <= 3
    assert any("l_suppkey" in p for p in a["pushed_filters"])


def test_knn_join_has_block_local_prerank(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["knn_join"](spark, SF_DIR)
    plan = plan_string(df)
    # two-level ranking: a pre-rank window keyed by (_blk, query_id) must
    # appear before the global per-query rank — without it all corpus×|Q|
    # scored rows land in a |Q|-partition window (parallelism ceiling = 20)
    assert "_blk" in plan and "SPARK_PARTITION_ID" in plan.upper()
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2


def test_near_dup_blocking_join_carries_no_vectors(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["near_dup_embeddings"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    # the candidate self-join must join on (label, cell) — cell-blocked, not
    # label-only (whose block count is constant ⇒ quadratic pair growth)
    assert "cell" in plan
    a = audit_plan(df)
    assert a["n_nested_loop_joins"] == 0


def test_docs_split_is_scan_local_single_agg_shuffle(spark, queries):
    df = queries["docs_split_assignment"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # md5-bucket assignment is a projection; only the groupBy + output sort
    # shuffle
    assert a["n_shuffles"] <= 2


def test_pack_sequences_prefix_sum_is_two_phase(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["pack_sequences"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    # the doc-level cumulative sum must be a BUCKET-partitioned window, and
    # exactly one single-partition exchange may exist: the n_buckets-row
    # offsets window. A global unpartitioned cumsum over doc rows would be a
    # second SinglePartition exchange — the 100 TB bottleneck this operator
    # exists to avoid.
    assert plan.count("Exchange SinglePartition") <= 1
    assert "windowspecdefinition(bucket" in plan
    a = audit_plan(df)
    # bucket offsets come back via a broadcast join, never a shuffle join
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sort_merge_joins"] == 0


def test_reservoir_per_key_never_globally_sorts_rows(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["reservoir_per_key"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    # per-key ranking is partitioned by source; no single-partition stage
    # touches doc-level rows (the final orderBy is a range exchange over
    # ≤ N·keys survivors)
    assert plan.count("Exchange SinglePartition") == 0
    a = audit_plan(df)
    assert a["n_shuffles"] <= 3


def test_kmeans_assignment_is_scan_local(spark):
    from nano_vectordb_rs_spark.operators.pipeline import _assign, _init_centroids
    from nano_vectordb_rs_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    df = _assign(spark, emb, _init_centroids())
    df.collect()
    a = audit_plan(df)
    # centroids are literal arrays folded scan-local: no join, no Exchange —
    # the round-4 explode⋈broadcast shape shuffled N×K×dim rows instead
    assert a["n_shuffles"] == 0
    assert a["n_broadcast_joins"] == 0
    assert a["n_sort_merge_joins"] == 0


def test_dedup_keep_best_is_joinless_single_group_shuffle(spark, queries):
    df = queries["dedup_keep_best"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # quality + fingerprint are scan-local projections; keeper selection is
    # max_by inside the ONE fingerprint groupBy — a window/rank formulation
    # would add a second shuffle, a join formulation a third
    assert a["n_broadcast_joins"] == 0
    assert a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 2  # groupBy(fingerprint) + output sort


def test_phrase_collocations_broadcasts_totals_no_cartesian(spark, queries):
    df = queries["phrase_collocations"](spark, SF_DIR)
    a = audit_plan(df)
    # the per-language totals (1 row per language) must broadcast into the
    # scored join; vocabulary joins may hash-shuffle (they are vocab-sized)
    # but nothing may plan as a nested-loop/cartesian
    assert a["n_broadcast_joins"] >= 1
    assert a["n_nested_loop_joins"] == 0


def test_percentiles_approx_never_uses_exact_percentile_udaf(spark, queries):
    import re

    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["events_value_percentiles_approx"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    # the exact brackets must come from the bounded groupBy(type, value) +
    # cumulative-rank window — the exact-percentile UDAF buffers every value
    # per group (ObjectHashAggregate, unbounded memory at corpus scale)
    # (percentile_approx itself plans as ObjectHashAggregate too, but its
    # state is bounded by the accuracy parameter — only the EXACT UDAF,
    # whose state is every value in the group, is banned here)
    assert "percentile_approx" in plan
    assert not re.search(r"(?<![_a-z])percentile\(", plan)


def test_exact_substring_contamination_is_equi_join(spark, queries):
    df = queries["exact_substring_contamination"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # candidate-driven window equi-join — never a nested-loop train x test
    assert a["n_nested_loop_joins"] == 0


def test_events_props_scrub_is_single_group_shuffle_no_lists(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["events_props_scrub"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    a = audit_plan(df)
    # the redacted-corpus checksum must be the mergeable per-row-hash SUM,
    # never a collected list (unbounded per-group memory at corpus scale)
    assert "collect_list" not in plan
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    # groupBy(event_type) (+ distinct-forms expand) + output sort
    assert a["n_shuffles"] <= 3


def test_quality_weighted_sample_is_scan_local_single_agg(spark, queries):
    df = queries["quality_weighted_sample"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # accept decision + quality score are projections; only the lang
    # aggregate and the output sort shuffle — no join anywhere
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 2


def test_ngram_novelty_reuses_shingle_partitioning(spark, queries):
    df = queries["ngram_novelty_scores"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # shingle agg + shingle join (co-keyed) + doc contraction + source join
    # + source agg + sort — bounded constant, and never a nested loop
    assert a["n_nested_loop_joins"] == 0
    assert a["n_shuffles"] <= 7


def test_doc_chunk_report_is_scan_local_single_agg(spark, queries):
    df = queries["doc_chunk_report"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # tokenize + index explode + slice + hash are all scan-local; only the
    # lang aggregate (distinct-doc expand) and the output sort shuffle
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 3


def test_cross_source_overlap_never_nested_loop(spark, queries):
    df = queries["cross_source_overlap"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # the self-join is a shingle-keyed EQUI-join (per-key fan-out bounded
    # by #sources); totals come back as broadcasts
    assert a["n_nested_loop_joins"] == 0
    assert a["n_broadcast_joins"] >= 2


def test_embedding_outlier_report_broadcasts_stats(spark, queries):
    df = queries["embedding_outlier_report"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # per-label stats (K rows) must broadcast back, never sort-merge
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sort_merge_joins"] == 0


def test_events_value_drift_bounded_window(spark, queries):
    df = queries["events_value_drift"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # one (week,type) aggregate, the lag window over #weeks×#types rows,
    # and the output sort — no joins at all
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_nested_loop_joins"] == 0
    assert a["n_shuffles"] <= 3


def test_tpch_q9_broadcasts_all_dimensions(spark, queries):
    a = audit_plan(queries["tpch_q9_profit"](spark, SF_DIR))
    # part, supplier, nation are broadcast dims; only lineitem⋈orders and
    # the nation×year aggregation shuffle
    assert a["n_broadcast_joins"] >= 3
    assert any("p_name" in p for p in a["pushed_filters"])


def test_tpch_q20_single_lineitem_scan_window_total(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["tpch_q20_promotion_suppliers"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    a = audit_plan(df)
    # the per-part total is a partkey window over the contracted
    # per-(part,supplier) frame: exactly one lineitem scan, no self-join
    assert plan.count("lineitem") <= 1
    assert a["n_nested_loop_joins"] == 0


def test_cluster_topic_assignment_stays_scan_local(spark, queries):
    df = queries["cluster_topic_report"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # the centroid assignment contributes no join (literal-array fold); the
    # only joins are docs⋈cells and the tiny per-cell stats⋈top-terms merge
    assert a["n_nested_loop_joins"] == 0
    # id join + (cell,tok) agg + top-K window + stats join + output sort
    assert a["n_shuffles"] <= 6


def test_pca_apply_is_single_contraction_exchange(spark):
    from nano_vectordb_rs_spark.functions.vector import deterministic_vector
    from nano_vectordb_rs_spark.operators.pipeline import PCA_SEED, _pca_apply
    from nano_vectordb_rs_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    df = _pca_apply(emb, deterministic_vector(64, seed=PCA_SEED))
    df.collect()
    a = audit_plan(df)
    # the projection is a literal fold (no join); the per-dimension sums are
    # map-side combined, so the one exchange carries dim-keyed partials
    assert a["n_broadcast_joins"] == 0
    assert a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 1


def test_events_anomaly_no_second_events_scan_explosion(spark, queries):
    df = queries["events_anomaly_report"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # moments groupBy + join back + event_type contraction + output sort;
    # no nested loop anywhere
    assert a["n_nested_loop_joins"] == 0
    assert a["n_shuffles"] <= 5


def test_train_shard_manifest_is_scan_local_single_agg(spark, queries):
    df = queries["train_shard_manifest"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # shard assignment is a projection; only the N_SHARDS-row aggregation
    # and the output sort shuffle
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 2


def test_vocab_coverage_broadcasts_topk_vocab(spark, queries):
    df = queries["vocab_coverage_report"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # the K-row vocabulary must broadcast into the coverage semi join — a
    # shuffle join against the (lang, tok) counts would move the corpus
    assert a["n_broadcast_joins"] >= 1
    assert a["n_nested_loop_joins"] == 0


def test_ann_ivf_pq_probe_prunes_partitions_bounded_topk(spark, queries):
    a = audit_plan(queries["ann_ivf_pq_topk"](spark, SF_DIR))
    # the cell IN (...) restriction must be DIRECTORY pruning on the
    # partitioned index (PartitionFilters), the ADC top-k bounded, and the
    # k-row exact-cosine join back a broadcast — never sort-merge
    assert a["has_partition_filters"]
    assert a["has_take_ordered"]
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sort_merge_joins"] == 0


def test_mixture_temperature_single_agg_broadcast_totals(spark, queries):
    a = audit_plan(queries["mixture_temperature_weights"](spark, SF_DIR))
    # one #lang aggregate; the 1-row total and normalizer join as
    # broadcasts (no shuffle grows with the corpus, no SMJ anywhere)
    assert a["n_sort_merge_joins"] == 0
    assert a["n_broadcasts"] >= 1


def test_tokenizer_fertility_is_scan_local_single_agg(spark, queries):
    a = audit_plan(queries["tokenizer_fertility"](spark, SF_DIR))
    # scan-local projection + one #lang-keyed aggregate (+1 for the tiny
    # output sort): nothing else may shuffle
    assert a["n_shuffles"] <= 2
    assert a["n_sort_merge_joins"] == 0


def test_streaming_sessionize_state_partitions_bounded(spark):
    """The sessionize drain must run its stateful exchange under the
    harness's small fixed partition count, not the session's 32 — state
    files per micro-batch scale with this number."""
    from nano_vectordb_rs_spark.streaming import events_stream

    want = events_stream.STREAM_PARTITIONS
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = events_stream.streaming_sessionize_custom(spark, SF_DIR)
    # session setting restored after the drain; the result is batch-local
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert out.count() > 0
    assert want <= 8  # the documented drain-scale ceiling


def test_table_profile_distincts_stay_hash_aggregated(spark, queries):
    """The exact multi-distinct Expand must plan as HashAggregate; mixing
    the string-buffer min/max into the same aggregate demotes the whole
    Expand subtree to SortAggregate (three |cols|x-row sorts on an
    8-column key — measured 11.6 s vs 2.4 s at sf0.1). The min/max pass is
    keyless (a fold — no sort requirement) and recombines via a broadcast
    cross join, so the only row-scale shuffles are the two aggregate
    exchanges."""
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["table_profile"](spark, SF_DIR)
    plan = plan_string(df)
    assert "Expand" in plan  # the exact multi-distinct rewrite
    # no sort-aggregate anywhere NEAR the Expand: the string min/max
    # buffers live in the keyless fold, which needs no sort either way
    assert "Sort " not in plan.split("Expand")[1].split("BroadcastExchange")[0]
    a = audit_plan(df)
    # two agg exchanges + final 7-row sort + the r15 pre-Expand spread
    # (the single-row-group fixture scan is 1 task; the keyed exchange
    # parallelizes the Expand/partial-distinct stage — see table_profile)
    assert a["n_shuffles"] <= 4
    assert a["n_nested_loop_joins"] <= 1  # the 1-row x 1-row recombine


def test_minhash_index_probe_is_candidate_driven(spark, queries):
    """The probe must never re-shingle the whole corpus: the corpus side
    contributes its materialized band rows (parquet scan of the index) and
    a candidate-driven re-shingle behind a semi join — so exactly one
    documents-scan subtree may be unfiltered (the new batch), and the plan
    must contain a LeftSemi join gating the corpus text scan."""
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["minhash_index_probe"](spark, SF_DIR)
    plan = plan_string(df)
    assert "LeftSemi" in plan
    # the materialized index is read back, not recomputed: a scan over the
    # cached band table appears in the plan
    assert "nano_vdb_mh_index" in plan
    a = audit_plan(df)
    assert a["n_nested_loop_joins"] == 0


def test_ivf_cell_health_assignment_scan_local(spark, queries):
    df = queries["ivf_cell_health"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # the cell assignment is the same literal-centroid fold as the probe
    # path (no join); the only join is the 8-row literal cell list against
    # the 8-row counts — broadcast by size, never sort-merge
    assert a["n_sort_merge_joins"] == 0
    assert a["n_broadcast_joins"] >= 1
    # corpus-scale shuffle count is ONE (the cell groupBy); the window +
    # output sort run over the N_CENTROIDS-row frame
    assert a["n_shuffles"] <= 4


def test_join_skew_advisor_broadcasts_totals_topk_bounded(spark, queries):
    df = queries["join_skew_advisor"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # per-key counts are map-side combined; corpus totals come back as a
    # broadcast single row (the 1-row cross join is the intended shape —
    # deliberately NOT a global window over the key-count frame)
    assert a["n_nested_loop_joins"] <= 1
    assert a["n_sort_merge_joins"] == 0
    assert a["has_take_ordered"]  # top-N keys, never a global sort
    # the totals branch re-states the key-count aggregate, but its exchange
    # canonically matches the top-N branch's, so AQE's ReuseExchange rule
    # collapses them at runtime: the fact table is scanned ONCE. Assert on
    # the executed plan — the static count (3) includes the duplicate.
    assert a["n_shuffles"] <= 3
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_events_scd2_single_user_window_shuffle(spark, queries):
    df = queries["events_scd2_state"](spark, SF_DIR)
    df.collect()
    a = audit_plan(df)
    # ONE window on user_id builds every validity interval, then the
    # bounded event_type aggregate + output sort — no joins at all
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_nested_loop_joins"] == 0
    assert a["n_shuffles"] <= 3


def test_compaction_plan_window_runs_on_day_frame(spark, queries):
    from nano_vectordb_rs_spark.plans import plan_string

    df = queries["compaction_plan"](spark, SF_DIR)
    df.collect()
    plan = plan_string(df)
    a = audit_plan(df)
    # the fact table contributes ONE partial+final day aggregate; the
    # running sum's single-partition exchange is over the per-day frame
    # (calendar-bounded), and no other single-partition stage may appear
    assert plan.count("Exchange SinglePartition") <= 1
    assert a["n_broadcast_joins"] == 0 and a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 4  # day agg + day window + file agg + sort


def test_cdc_changes_and_apply_plans_are_id_keyed_joins(spark, tmp_path):
    """The CDC pair's scale claims as plan assertions: changes() is ONE
    full-outer join of two snapshot scans with a single codegen'd struct
    comparison (no cartesian/nested-loop anywhere), and apply_changes() is
    one LEFT ANTI join + union (the merge shape that co-partitions under a
    bucketed writer). A refactor that introduced a per-column comparison
    chain or a nested-loop dedup would fail here before any benchmark
    notices."""
    from nano_vectordb_rs_spark.collection import VectorCollection
    from nano_vectordb_rs_spark.plans.audit import plan_string

    c = VectorCollection.open(spark, 4, str(tmp_path / "coll"))
    c.upsert(
        spark.createDataFrame(
            [("a", [1.0, 0.0, 0.0, 0.0], "x"), ("b", [0.0, 1.0, 0.0, 0.0], "y")],
            "`__id__` string, vector array<float>, tag string",
        )
    )
    v1 = c.save_snapshot()
    c.delete(["b"])
    v2 = c.save_snapshot()

    feed = c.changes(v1, v2)
    fp = plan_string(feed)
    assert "FullOuter" in fp
    assert "CartesianProduct" not in fp and "BroadcastNestedLoopJoin" not in fp

    replica = VectorCollection.open_snapshot(spark, 4, str(tmp_path / "coll"), v1)
    replica.apply_changes(feed)
    ap = plan_string(replica.df)
    assert "LeftAnti" in ap
    assert "Union" in ap
    assert "CartesianProduct" not in ap and "BroadcastNestedLoopJoin" not in ap


def test_tpch_q2_one_window_shuffle_broadcast_dims(spark, queries):
    a = audit_plan(queries["tpch_q2_min_cost_supplier"](spark, SF_DIR))
    # synthetic partsupp derives from one part scan; part (size-filtered)
    # and the supplier⋈nation⋈region chain join broadcast; the correlated
    # MIN is a partkey window — its hash Exchange is the plan's one DATA
    # shuffle (the other Exchange is the |supplier| count contracting to
    # a single row, one partial row per partition); ORDER BY + LIMIT
    # contracts via TakeOrderedAndProject
    assert a["n_broadcast_joins"] >= 3
    assert a["n_sort_merge_joins"] == 0
    assert a["n_shuffles"] <= 2
    assert a["has_take_ordered"]
    assert any("p_size" in p for p in a["pushed_filters"])


def test_simhash_exchange_width_is_input_sized(spark):
    """simhash's pre-explode exchange width derives from input bytes
    (~64 KB/task), caps at core count, and disappears for tiny or
    non-local inputs — never bare defaultParallelism."""
    from nano_vectordb_rs_spark.sources.tables import input_sized_width

    def width(sf_dir):
        return input_sized_width(spark, sf_dir, "documents", 64 << 10)

    w = width(SF01_DIR)
    assert 1 < w <= spark.sparkContext.defaultParallelism
    # tiny fixture: below one 64 KB task's worth -> exchange elided
    assert width(SF0001_DIR) == 0
    # unreadable path (object store case): scan splits provide parallelism
    assert width("/nonexistent") == 0


def test_phrase_collocations_checkpoint_gate(spark, monkeypatch):
    """r16 (VERDICT r15 task 3): the unigram checkpoint is gated on corpus
    size — small corpora take the parallel re-scan form (measured faster
    through 8x), forced-large corpora take the checkpointed form, and both
    branches produce identical rows."""
    from nano_vectordb_rs_spark.operators import textops
    from nano_vectordb_rs_spark.sources.tables import _table_size

    assert _table_size(SF01_DIR, "documents")[1] > 0
    # unknown storage (None) reads LARGE: clusters keep the single-derivation form
    assert _table_size("/nonexistent", "documents") is None
    df_small = textops.phrase_collocations(spark, "/root/testdata/sf0.001")
    rows_small = sorted(map(str, df_small.collect()))
    monkeypatch.setattr(textops, "CHECKPOINT_MIN_TEXT_BYTES", 0)
    df_ckpt = textops.phrase_collocations(spark, "/root/testdata/sf0.001")
    assert sorted(map(str, df_ckpt.collect())) == rows_small


def test_input_sized_width_policy(spark):
    """r16: the shared unstarve-width helper derives from input bytes,
    caps at core count, and returns 0 (no exchange) for tiny inputs,
    unreadable paths, or scans that already provide core-count splits."""
    from nano_vectordb_rs_spark.sources.tables import input_sized_width

    w = input_sized_width(spark, "/root/testdata/sf0.1", "lineitem", 1 << 20)
    assert 1 < w <= spark.sparkContext.defaultParallelism
    assert input_sized_width(spark, "/root/testdata/sf0.001", "lineitem", 1 << 20) == 0
    assert input_sized_width(spark, "/nonexistent", "lineitem", 1 << 20) == 0


def test_collection_serving_calls_are_single_scans(spark, tmp_path):
    from nano_vectordb_rs_spark.collection import VectorCollection
    from nano_vectordb_rs_spark.plans import plan_string

    c = VectorCollection.open(spark, 4, str(tmp_path / "coll"))
    c.upsert(
        spark.createDataFrame(
            [(f"v{i}", [1.0, float(i), 0.5, 0.0], "x") for i in range(8)],
            "`__id__` string, vector array<float>, tag string",
        )
    )
    c.save()
    # get before the resident copy is loaded: an IN filter pushed to the
    # parquet scan, no broadcast job
    a = audit_plan(c.get(["v1", "v5"]))
    assert a["n_broadcasts"] == 0 and a["n_broadcast_joins"] == 0
    assert a["n_shuffles"] == 0
    assert any("__id__" in p for p in a["pushed_filters"])
    # query on the Spark path (any where): scan -> score -> bounded top-k,
    # no exchange
    a = audit_plan(c.query([1.0, 0.0, 0.0, 0.0], top_k=3, where=F.lit(True)))
    assert a["has_take_ordered"] and a["n_shuffles"] == 0
    # query on the saved handle is served resident: no job, no file scan
    sc = spark.sparkContext
    sc.setJobGroup("resident_query", "resident_query")
    try:
        top = c.query([1.0, 0.0, 0.0, 0.0], top_k=3)
        assert len(top.collect()) == 3
        # and once the query loaded the copy, get is served from it too
        got = c.get(["v1", "v5"])
        assert len(got.collect()) == 2
        assert list(sc.statusTracker().getJobIdsForGroup("resident_query")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "FileScan" not in plan_string(top)
    assert "FileScan" not in plan_string(got)


def test_round_robin_exchange_counted_apart_from_shuffles(spark):
    a = audit_plan(spark.range(100).repartition(3))
    assert a["n_round_robin"] == 1
    assert a["n_shuffles"] == 0
