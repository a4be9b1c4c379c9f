"""Golden plan-shape asserts for the analytics surface (SURVEY.md §5.8).

Correctness tests prove WHAT is computed; these prove the plan is the one
that survives a 100x scale-up: filters reach the parquet scan, projections
prune the read schema, small dims broadcast, and the relational hot path
stays inside WholeStageCodegen (no Python in the middle).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from analytics import crawl_queries, relational
from tests.conftest import SF_TEST


def plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sc1_pushdown_and_pruning(spark):
    p = plan(relational.sc1_pushdown_scan(spark, SF_TEST))
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:200]
    # read schema pruned to the 4 referenced columns, not all 16
    read = p.split("ReadSchema")[1][:300]
    assert "l_returnflag" in read and "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_shipdate" not in read


def test_j1_broadcast_fires(spark):
    p = plan(relational.j1_broadcast_join(spark, SF_TEST))
    assert "BroadcastHashJoin" in p


def test_j4_anti_join_strategy(spark):
    p = plan(relational.j4_left_anti_join(spark, SF_TEST))
    assert "LeftAnti" in p


def test_x_math_wholestage_codegen(spark):
    """Scalar-function pipeline must be one codegen span, zero Python."""
    p = plan(relational.x_math_funcs(spark, SF_TEST))
    assert "codegen id" in p  # formatted-mode marker for WholeStageCodegen spans
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_frontier_pop_salted_shape(spark):
    """F5's plan: two Window nodes (salted then exact), no Python nodes,
    and the partial rank prunes before the second shuffle."""
    p = plan(crawl_queries.frontier_pop(spark, SF_TEST))
    assert p.count("Window") >= 2
    assert "ArrowEvalPython" not in p


def test_dedup_exact_partial_agg(spark):
    """Hash agg must be partial+final (map-side combine) — 'partial_' merge
    functions appear in the aggregate nodes."""
    from analytics import dedup

    p = plan(dedup.dedup_exact(spark, SF_TEST))
    assert "HashAggregate" in p
    assert "partial_" in p.lower() or "Partial" in p


def test_frontier_scan_partition_prunes(spark, tmp_path):
    """The status-partitioned frontier layout lets the pending scan skip
    done/failed files entirely (SURVEY.md §4 O5)."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("url_hash"),
        F.when(F.col("id") % 3 == 0, "pending").otherwise("done").alias("status"),
    )
    path = str(tmp_path / "frontier")
    df.write.partitionBy("status").parquet(path)
    scan = spark.read.parquet(path).where(F.col("status") == "pending")
    p = plan(scan)
    assert "PartitionFilters" in p
    assert "status" in p.split("PartitionFilters")[1][:200]
    assert scan.count() == 334


def test_load_spread_parallelizes_single_file_scan(spark):
    """Heavy per-doc compute (minhash/simhash/ANN scoring) must not run on
    the scan's single input partition: load_spread round-robins a
    below-maxPartitionBytes file out to core count, and is a no-op when
    the scan already has enough partitions."""
    from analytics.common import load, load_spread

    par = spark.sparkContext.defaultParallelism
    raw = load(spark, SF_TEST, "documents")
    spread = load_spread(spark, SF_TEST, "documents")
    if raw.rdd.getNumPartitions() >= par:
        assert spread is raw or spread.rdd.getNumPartitions() >= par
    else:
        assert spread.rdd.getNumPartitions() == par
    from analytics import dedup

    sigs = dedup.minhash_signatures(dedup._shingle_arrays(spark, SF_TEST))
    assert sigs.rdd.getNumPartitions() >= min(par, 2)


def test_minhash_signature_stage_has_no_shuffle(spark):
    """Signature computation is per-doc local: the plan between the scan
    and the Arrow eval must contain no Exchange (the repartition Exchange
    from load_spread is the single allowed one)."""
    from analytics import dedup

    p = plan(dedup.minhash_signatures(dedup._shingle_arrays(spark, SF_TEST)))
    # formatted explain prints each node twice (tree line + detail header);
    # count detail headers "(n) Exchange" = actual Exchange nodes
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1
    assert "ArrowEvalPython" in p


def test_gopher_filter_zero_shuffle_no_python(spark):
    """The Gopher gate is a stateless scan: no Exchange, no Python, and the
    read schema prunes to (doc_id, text)."""
    from analytics import text as T

    p = plan(T.doc_gopher_filter(spark, SF_TEST))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_dup_ngram_spans_two_phase_distinct_agg(spark):
    """Span mining: exactly the two exchanges of a two-phase distinct agg,
    with a partial HashAggregate BELOW the first exchange (map-side
    combine), and a narrow Generate (no shuffle before it)."""
    from analytics import text as T

    p = plan(T.dup_ngram_spans(spark, SF_TEST))
    # formatted mode prints each node twice (tree + detail); count detail headers
    assert p.count(") Exchange") == 2
    assert "Generate" in p
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex], "no map-side partial agg"


def test_kmeans_assign_broadcasts_centroids(spark):
    """The k-means assign pass must broadcast the centroid table (never
    shuffle the corpus against it) and keep the argmin key-unique."""
    from analytics import similarity as S

    p = plan(S.kmeans_train(spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_media_phash_single_exchange(spark):
    """Perceptual-hash dedup: the only shuffle is the (type, phash)
    groupBy — one Exchange above the decode projection."""
    from analytics import multimodal as M

    p = plan(M.QUERIES["media_phash_dedup"](spark, SF_TEST))
    assert p.count(") Exchange") == 1


def test_corpus_token_stats_histogram_shape(spark):
    """Exact percentiles ride the (lang, n) histogram: the plan carries
    Window nodes over the aggregated histogram, and the raw documents
    scan feeds ONE partial-agg exchange, not a per-lang global sort of
    raw rows."""
    from analytics import text as T

    p = plan(T.corpus_token_stats(spark, SF_TEST))
    assert "Window" in p
    read = p.split("ReadSchema")[1][:200]
    assert "text" in read and "source" not in read


def test_bpe_apply_doc_chain_zero_shuffle_no_python(spark):
    """The corpus rewrite is a narrow chain: BPE_MERGES broadcast 1-row
    joins over the documents scan, zero Exchange on the doc side of the
    final plan, no Python nodes, read schema pruned to (doc_id, text).
    (The vocab-sized training rounds are materialized localCheckpoints,
    so the returned frame's plan IS the doc-side pipeline.)"""
    from analytics import text as T

    p = plan(T.bpe_apply(spark, SF_TEST))
    # formatted mode prints each node twice (tree + detail); count detail headers
    assert p.count(") BroadcastNestedLoopJoin") == T.BPE_MERGES
    assert "Exchange hashpartitioning" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_link_hits_round_plan_stays_flat(spark):
    """Each HITS round localCheckpoints, so the returned plan is O(1): the
    final normalize reads exactly 4 materialized frames (auth, hub, and
    the two total-agg inputs) — no 4x-nested re-expansion of the
    iteration — and the 1-row totals come in through broadcast
    nested-loop joins.  The auth-hub node join itself may SMJ: both sides
    are node-table-sized at web scale, so a shuffle join is the CORRECT
    strategy there, not a defect."""
    from analytics import graph as G

    p = plan(G.link_hits(spark, SF_TEST))
    assert p.count(") Scan ExistingRDD") == 4  # checkpointed inputs only
    assert p.count(") BroadcastNestedLoopJoin") == 2  # totals, 1-row each


def test_random_projection_broadcast_and_single_agg(spark):
    """The sign matrix comes in through a broadcast join (never shuffles
    the exploded corpus against a k*d table) and the projection is ONE
    partial+final hash agg — two Exchanges max (agg + the AQE output),
    no SortMergeJoin."""
    from analytics import similarity as S

    p = plan(S.emb_random_projection(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex], "no map-side partial agg"


def test_sc8_bucketed_join_is_exchange_free(spark):
    """SC8's whole point: two bucketed scans on the join key feed the
    sort-merge join with NO Exchange below it — the only shuffle in the
    query is the final groupBy.  If bucketing stops being picked up
    (catalog regression, bucket-count mismatch) the join re-shuffles
    both sides and this pin fails."""
    p = plan(relational.sc8_bucketed_join(spark, SF_TEST))
    assert p.count("Bucketed: true") == 2
    assert "SortMergeJoin" in p
    tree = p.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree
    join_subtree = tree.split("SortMergeJoin")[1]
    assert "Exchange" not in join_subtree, join_subtree


def test_j10_star_broadcasts_dims_pushes_date_filter(spark):
    """Q5 star: the three dims must broadcast (no Exchange feeds them) and
    the order-year predicate must reach the orders parquet scan."""
    p = plan(relational.j10_star_q5(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "PushedFilters" in p
    pushed = [seg[:260] for seg in p.split("PushedFilters")[1:]]
    assert any("o_orderdate" in seg for seg in pushed)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_scd2_single_exchange_two_windows(spark):
    """SCD2 build: both window passes share the (o_orderkey) partitioning —
    exactly one Exchange, two Window nodes, zero Python."""
    p = plan(relational.scd2_order_history(spark, SF_TEST))
    assert p.count(") Exchange") == 1, p
    assert p.count(") Window") == 2
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_interleaved_pack_single_exchange(spark):
    """media_interleaved_pack: the span synthesis (split/explode/md5) is
    narrow; the only Exchange is the per-source packing window."""
    from analytics import multimodal

    p = plan(multimodal.media_interleaved_pack(spark, SF_TEST))
    assert p.count(") Exchange") == 1, p
    assert "Window" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_hll_rollup_partial_aggregates(spark):
    """A11: the per-type sketch agg must partial-aggregate map-side (two
    HashAggregate/ObjectHashAggregate levels around one Exchange)."""
    p = plan(relational.a11_hll_sketch_rollup(spark, SF_TEST))
    assert "HashAggregate" in p
    assert "Exchange" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_j11_salted_join_is_shuffle_not_broadcast(spark):
    """The salted skew join must exercise a real shuffle join on the
    (hot_key, salt) composite key — broadcast would bypass the very
    distribution the salt exists to fix."""
    p = plan(relational.j11_salted_skew_join(spark, SF_TEST))
    assert "ShuffledHashJoin" in p or "SortMergeJoin" in p, p
    assert "salt" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_html_extract_zero_shuffle_no_python(spark):
    """HTML extraction is the fetch-epoch parse shape: stateless regexp
    rewrites in one codegen span — no Exchange, no Python, read schema
    pruned to (doc_id, text)."""
    from analytics import text as T

    p = plan(T.doc_html_extract(spark, SF_TEST))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_quality_classifier_broadcasts_model(spark):
    """The weight table must broadcast (model-sized dim) and the only
    shuffle is the final doc_id agg with a partial below it — no Python,
    no vocabulary-join Exchange on the token stream."""
    import re

    from analytics import text as T

    p = plan(T.doc_quality_classifier(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 1
    assert "partial_count" in p or "partial" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_events_skyline_two_stage(spark):
    """Stage-1 window partitions by the hash bucket (local prune) so the
    only unpartitioned window runs over the pruned survivors; the raw
    scan never feeds a single-task window directly."""
    from analytics import events as E

    p = plan(E.events_skyline(spark, SF_TEST))
    assert p.count("Window") >= 2
    assert "pmod" in p and "xxhash64" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_events_zscore_codegen_partials(spark):
    """The moments agg carries map-side partials (partial_count/sum below
    the Exchange) and the whole flag pipeline stays JVM-side; the
    moments-join strategy itself is left to Catalyst size stats
    (broadcast at test scale, shuffle reusing the agg's user_id
    partitioning once the user dim outgrows the threshold)."""
    from analytics import events as E

    p = plan(E.events_zscore_outliers(spark, SF_TEST))
    assert "partial_count" in p and "partial_sum" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_cms_sketch_sized_shuffle(spark):
    """The cells agg must carry map-side partials (the shuffle is
    sketch-sized, not corpus-sized) and the readout broadcasts the
    sketch; zero Python anywhere."""
    from analytics import text as T

    p = plan(T.corpus_cms_counts(spark, SF_TEST))
    assert "partial_count" in p
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_global_order_no_corpus_single_task_window(spark):
    """The corpus-sized window must be partitioned (by spark_partition_id
    after the range exchange); the only unpartitioned window runs over
    the partition-count offsets table.  Assert the plan carries a range
    exchange + a partitioned window, and the offsets come back via
    broadcast."""
    from analytics import text as T

    p = plan(T.doc_global_order(spark, SF_TEST))
    assert "rangepartitioning" in p.lower()
    assert "SPARK_PARTITION_ID" in p or "spark_partition_id" in p
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_c4_clean_zero_shuffle_no_python(spark):
    """C4 line cleaning is a stateless scan: no Exchange, no Python, read
    schema pruned to (doc_id, text)."""
    from analytics import text as T

    p = plan(T.doc_c4_clean(spark, SF_TEST))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_anchor_topk_broadcast_and_partial_agg(spark):
    """The part dim joins via BroadcastHashJoin (no shuffle of the edge
    side for the join) and the (dst, word) count partial-aggregates below
    its exchange."""
    from analytics import graph as G

    p = plan(G.link_anchor_topk(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p  # map-side combine below the agg exchange
    assert "WindowGroupLimit" in p  # top-k pushed into the window operator


def test_emb_covariance_model_sized_shuffle(spark):
    """The GEMM partials aggregate map-side and every final join is a
    broadcast — no corpus-sized exchange above the Arrow pass."""
    from analytics import similarity as S

    p = plan(S.emb_covariance(spark, SF_TEST))
    assert "MapInPandas" in p
    assert "partial_sum" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_sc10_orc_scan_pushes_predicate(spark):
    """The ORC read must push o_totalprice > 50000 into the scan
    (stripe/row-group skipping at scale) and prune the read schema."""
    from analytics import relational as R

    df = R.sc10_orc_source(spark, SF_TEST)
    p = plan(df)
    assert "PushedFilters" in p
    assert "o_totalprice" in p.split("PushedFilters")[1][:200]


def test_winnow_fingerprint_zero_shuffle_no_python(spark):
    from analytics import text as T

    p = plan(T.doc_winnow_fingerprint(spark, SF_TEST))
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_bfs_depth_round_partial_min_agg(spark):
    """The returned plan is O(1) (per-round localCheckpoint: a filter
    over the final materialized frame, no 4x nested re-expansion, no
    parquet re-scan), and ONE relaxation round — reconstructed from the
    same frames — partial-aggregates its candidate min map-side, so the
    dst shuffle carries one row per (partition, dst), never per
    traversed edge."""
    from analytics import graph as G
    from analytics.common import load

    p = plan(G.link_bfs_depth(spark, SF_TEST))
    assert p.count("Scan ExistingRDD") >= 1  # checkpointed final frame
    assert "Scan parquet" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p

    edges = load(spark, SF_TEST, "lineitem").select(
        (F.col("l_partkey") % G.N_NODES).alias("src"),
        ((F.col("l_partkey") + 1 + F.col("l_suppkey") % 5) % G.N_NODES).alias(
            "dst"
        ),
    )
    seeds = edges.select(F.col("src").alias("node")).withColumn(
        "depth", F.lit(0)
    )
    one_round = (
        edges.join(seeds.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg((F.min("depth") + 1).alias("cand"))
    )
    rp = plan(one_round)
    assert "partial_min" in rp  # map-side combine below the dst exchange


def test_ab_ttest_single_moments_exchange(spark):
    """One map-side-combined hash agg reduces the event stream to the
    (event_type x 2) moments table; the A/B self-join then runs on that
    tiny frame (no second corpus-sized exchange, no sort-merge join,
    no Python)."""
    from analytics import events as E

    p = plan(E.QUERIES["events_ab_ttest"](spark, SF_TEST))
    assert "partial_count" in p and "partial_sum" in p
    assert "SortMergeJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pca_power_corpus_work_is_one_gemm(spark):
    """The returned iterate plan is model-sized: the corpus-sized GEMM
    ran once inside the localCheckpoint (visible only as an ExistingRDD
    scan), and the final round is broadcast joins over the d^2 matrix —
    no corpus scan, no sort-merge join in the iteration."""
    from analytics import similarity as S

    p = plan(S.QUERIES["emb_pca_power"](spark, SF_TEST))
    assert "Scan ExistingRDD" in p  # checkpointed C feeds the rounds
    assert "Scan parquet" not in p  # corpus touched only inside the GEMM
    assert "SortMergeJoin" not in p


def test_wand_prunes_before_exact_scoring(spark):
    """The survivor filter (ub sum >= theta) sits below the exact-score
    join: theta and the ub table ride broadcasts, the dl join for the
    survivor sliver stays a hash join, and the corpus is never
    sort-merge-joined."""
    from analytics import text as T

    p = plan(T.QUERIES["index_wand_topk"](spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") >= 2  # theta + stats scalars
    assert "max_possible" in p and "theta" in p


def test_cocitation_capped_join_topk_pushdown(spark):
    """The per-source cap ranks BEFORE the self-join (the quadratic bound),
    pair counts partial-aggregate map-side, and both top-k windows get
    WindowGroupLimit pushdown; no Python anywhere."""
    from analytics import graph as G

    p = plan(G.link_cocitation_topk(spark, SF_TEST))
    assert "WindowGroupLimit" in p
    assert "partial_count" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_text_normalize_nfc_zero_shuffle_one_arrow_pass(spark):
    """NFC normalization is a stateless scan: no Exchange, exactly one
    Arrow-batched Python span, read schema pruned to (doc_id, text)."""
    from analytics import text as T

    p = plan(T.text_normalize_nfc(spark, SF_TEST))
    assert "Exchange" not in p
    # one Arrow span: node (4) appears once in the tree + once in detail
    assert p.count("ArrowEvalPython") == 2
    assert "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_events_attribution_window_then_tiny_agg(spark):
    """One user_id window exchange + one channel-agg exchange with a
    map-side partial below it; no Python, no global sort."""
    from analytics import events as E

    p = plan(E.events_attribution(spark, SF_TEST))
    assert "partial_count" in p or "partial_sum" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # detail section lists each Exchange once as "(n) Exchange"
    import re

    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 2, p


def test_corpus_line_dedup_partial_min_no_python(spark):
    """The keep-key groupBy partial-aggregates map-side (the boilerplate
    pole combines before the shuffle) and the whole plan stays JVM-side."""
    from analytics import text as T

    p = plan(T.corpus_line_dedup(spark, SF_TEST))
    assert "partial_min" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex] or "partial_min" in p[:first_ex]


def test_emb_outlier_filter_broadcast_no_corpus_shuffle(spark):
    """Both the centroid table and the per-label thresholds broadcast onto
    the corpus scan; no SortMergeJoin, no Python."""
    from analytics import similarity as S

    p = plan(S.emb_outlier_filter(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_sc6_merge_upsert_one_copartitioned_join(spark):
    """The MERGE dataflow is one key-partitioned FullOuter join — no
    Python, no nested-loop, snapshot and delta exchange on the same key."""
    from analytics import relational as R

    p = plan(R.sc6_merge_upsert(spark, SF_TEST))
    assert "FullOuter" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_corpus_diversity_simpson_two_partial_aggs(spark):
    """Both reductions combine map-side (the repeated-token pole collapses
    before each shuffle) and the plan stays JVM-side."""
    from analytics import text as T

    p = plan(T.corpus_diversity_simpson(spark, SF_TEST))
    assert "partial_count" in p or "partial_sum" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex]


def test_crawl_trap_hosts_windows_over_rollup(spark):
    """The trap windows rank template rows, not URL rows: the partial agg
    sits below the first exchange and everything stays JVM-side."""
    from analytics import crawl_queries as C

    p = plan(C.crawl_trap_hosts(spark, SF_TEST))
    assert "partial_count" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # the rank window gets group-limit pushdown over the rolled-up rows
    assert "WindowGroupLimit" in p
    # the (host, template) rollup is partial+final around ONE exchange,
    # then one more exchange feeds the host windows: exactly 2 total
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2


def test_dedup_containment_index_join_partial_agg(spark):
    """Candidate pairs come from the shingle-equality index join with a
    map-side partial count; no Python, no nested-loop all-pairs.  The
    query's lineage is uncut, so the plan shows the join itself."""
    from analytics import dedup as D

    p = plan(D.dedup_containment(spark, SF_TEST))
    # any equi-HASH join is the index-join shape (BHJ at tiny sf, SMJ/SHJ
    # at scale) — the banned shapes below are the regression
    assert any(
        j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert "partial_count" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_events_mad_outliers_histogram_broadcast_shape(spark):
    """Both median passes ride histograms (no per-type sort of raw rows —
    the Sort nodes only order histogram rows AFTER a partial agg) and the
    |event_type|-sized median tables broadcast onto the stream scan."""
    from analytics import events as E

    p = plan(E.events_mad_outliers(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_count" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_a13_bitmap_distinct_no_expand(spark):
    """The bitmap strategy must NOT fall back to the Expand-based distinct
    rewrite: fixed-size bitmap partials combine map-side instead."""
    from analytics import relational as R

    p = plan(R.a13_bitmap_distinct(spark, SF_TEST))
    assert "bitmap_construct_agg" in p
    assert "Expand" not in p
    assert "partial_" in p.lower()


def test_pf6_dpp_prunes_fact_partitions(spark):
    """The fact scan's PartitionFilters must carry BOTH the inferred
    static IN-filter and the runtime dynamicpruning subquery."""
    from analytics import relational as R

    p = plan(R.pf6_dynamic_partition_pruning(spark, SF_TEST))
    assert "dynamicpruningexpression" in p
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters")[1][:300]
    assert "event_type" in pf


def test_bm25_topk_is_take_ordered(spark):
    """The global top-k in both BM25 consumers plans TakeOrderedAndProject
    (per-partition heaps, k rows to the driver), not a bare unpartitioned
    row_number window that would single-task-sort every matching posting
    (r05 review — the doc_global_order skew pole)."""
    from analytics import text as T

    for fn in (T.index_bm25_topk, T.index_wand_topk):
        p = plan(fn(spark, SF_TEST))
        assert "TakeOrderedAndProject" in p, fn.__name__


def test_rrf_hybrid_both_legs_take_ordered(spark):
    """Each fusion leg must cut to top-RRF_CAND via TakeOrderedAndProject
    (k-sized lists into the fusion join, never a corpus-sized global
    sort), and the dense leg's 1-row query vector must broadcast."""
    from analytics import text as T

    p = plan(T.index_rrf_hybrid(spark, SF_TEST))
    assert p.count(") TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_caption_pairs_zero_shuffle_no_python(spark):
    """Caption mining is a stateless narrow scan: bounded Generate
    (chunk explode), zero Exchange, zero Python, read schema pruned to
    (doc_id, text)."""
    from analytics import multimodal as M

    p = plan(M.media_caption_pairs(spark, SF_TEST))
    assert "Exchange" not in p
    assert "Generate" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    read = p.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_ppr_round_plan_matches_pagerank_shape(spark):
    """Personalization must add zero distributed cost: the returned
    frame's plan (one round past the last checkpoint) carries the same
    single co-partitioned join + partial agg shape as link_pagerank,
    with no extra Exchange for the seed reset."""
    from analytics import graph as G

    p_pr = plan(G.link_pagerank(spark, SF_TEST))
    p_ppr = plan(G.link_ppr(spark, SF_TEST))
    import re

    # same exchange count; the reset CASE lives inside the projection
    assert len(re.findall(r"\(\d+\) Exchange", p_ppr)) == len(
        re.findall(r"\(\d+\) Exchange", p_pr)
    )
    assert "ArrowEvalPython" not in p_ppr


def test_kn_bigram_stats_broadcast_no_smj(spark):
    """KN estimation: the bigram-type table joins its vocab-sized stat
    tables by broadcast (never a sort-merge of bigram×bigram), the pair
    explode is a narrow Generate, and the corpus agg partial-aggregates
    below its exchange."""
    from analytics import text as T

    p = plan(T.corpus_kn_bigram_lm(spark, SF_TEST))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Generate" in p
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex], "no map-side partial agg"
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_events_ewma_one_exchange_one_window(spark):
    """EWMA: one user_id exchange feeds ONE Window evaluating all lags in
    a single pass — no per-lag windows, no Python."""
    import re

    from analytics import events as E

    p = plan(E.events_ewma(spark, SF_TEST))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_host_graph_contraction_partial_agg(spark):
    """Host-graph: the page→host contraction partial-aggregates below its
    exchange (hub hosts absorb map-side), and the read schema prunes to
    the two key columns."""
    from analytics import crawl_queries as CQ

    p = plan(CQ.crawl_host_graph(spark, SF_TEST))
    first_ex = p.index("Exchange")
    assert "HashAggregate" in p[:first_ex], "no map-side partial agg"
    read = p.split("ReadSchema")[1][:200]
    assert "l_partkey" in read and "l_suppkey" in read
    assert "l_orderkey" not in read and "l_extendedprice" not in read


def test_hamming_topk_take_ordered_broadcast(spark):
    """Binary Hamming retrieval: the 1-row packed query broadcasts, the
    global top-k is TakeOrdered, and the whole query has no Python."""
    from analytics import similarity as S

    p = plan(S.emb_hamming_topk(spark, SF_TEST))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
