package graft.ops

import graft.{Catalog, SparkSpec}

/** Physical-plan audit for the heavy dedup/similarity/join queries —
  * the scale properties PLANS.md documents in prose, asserted so a
  * regression reintroducing an all-pairs join or un-pruning a scan
  * goes red instead of rotting silently. Plans are compiled (not
  * executed) at fixture scale; join-strategy choices for these shapes
  * are static (the banded/blocked joins are equi-joins at every sf).
  */
class ExplainAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries whose plan must contain NO BroadcastNestedLoopJoin and no
    * CartesianProduct: every dedup/similarity pipeline and the
    * formerly-BNLJ banded range join.
    */
  private val noNestedLoop = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_stream_lsh",
    "q_dedup_clusters", "q_dedup_simhash", "q_dedup_simhash_hamming",
    "q_dedup_jaccard", "q_text_contamination", "q_dedup_embedding", "q_dedup_apply",
    "q_sim_lsh_bucketed", "q5_multiway", "q_join_range", "q_asof_join",
    "q_evt_funnel", "q_evt_attribution", "q_evt_attribution_capped",
    "q_sample_stratified",
    "q_dedup_editdist", "q_dedup_length_routed", "q_dedup_cc_star",
    "q_text_boilerplate", "q_text_bigram_lm", "q_evt_retention",
    "q_evt_transitions", "q_feat_zscore", "q_feat_minmax", "q_feat_index",
    "q_feat_split", "q_feat_hash", "q_emb_centroid",
    "q_text_repetition",
    "q_dedup_keep_best", "q_feat_group_split", "q_text_source_quota",
    "q_text_lm_rarity",
    "q_sql_merge", "q_sql_unpivot", "q_agg_mode", "q_feat_outlier",
    "q_text_vocab", "q_graph_degree", "q_graph_triangles",
    "q_text_normalize", "q_dedup_incremental", "q_evt_spikes",
    "q_text_pack", "q_emb_quantize", "q_evt_rfm", "q_scalar_url",
    "q_graph_triangles_capped", "q_graph_pagerank", "q_text_dup_ngram",
    "q_sql_profile", "q_agg_sketch_rollup", "q_sql_expectations",
    "q_text_span_dedup", "q_feat_ntile_grouped", "q_agg_heavy_hitters_auto",
    "q_emb_outlier", "q_sim_pq", "q_sample_weighted",
    "q_evt_top_types", "q_win_interpolate", "q_sql_snapshot_diff",
    "q_dedup_damerau", "q_sql_intervals", "q_feat_winsorize",
    "q_graph_clustering", "q_graph_kcore", "q3_shipping",
    "q_evt_paths", "q_evt_cumulative_users", "q_feat_mad",
    "q_text_cdc_chunks", "q_sql_corr_matrix",
    // capped clustering coefficient joins only on equi-keys like its
    // sibling q_graph_triangles_capped (broadcast ANTI joins for hub
    // removal are hash joins, not BNLJ)
    "q_graph_clustering_capped",
    // BPE: the merge list itself is a driver-built LocalRelation, and
    // the encode row's vocab lineage ends in one broadcast hash join —
    // the 37-stage per-round broadcast-chain plan (the 4.7× r8 defect,
    // killed by the driver argmax) would resurface here as BNLJ-free
    // but exchange-heavy; the compile alone catches a rebuilt chain
    // that no longer fits in a single-job materialization
    "q_text_bpe", "q_text_bpe_batched", "q_text_bpe_encode",
    // bloom decontamination: the bloom probe is a scalar-subquery
    // literal broadcast (no join at all on the corpus side); the exact
    // verification join inside the gate is a shingle-keyed hash join
    "q_dedup_bloom",
    // join-free layouts: one hash rollup / one source-partitioned window
    "q_shard_plan", "q_text_token_budget",
    // binned variant adds only broadcast bin-verdict hash joins
    "q_text_token_budget_binned",
    // LPA: per-round (edges ⋈ labels) equi-joins + hash rollups only
    "q_graph_lpa",
    // round 11: perceptron is broadcast-model hash joins + rollups;
    // entropy is two rollups; PCA matvecs join equi on dim/vec_id;
    // the recursive CTE's step join is an equi-join on the parent id
    "q_text_perceptron", "q_text_entropy", "q_emb_pca",
    "q_emb_pca_scores", "q_sql_recursive",
    // round 12: the window chunker is a pure per-row generate — no
    // join of any kind (its hash-exchange-freeness is pinned below);
    // EWMA is one (user) rollup + a codegen array fold; trend is two
    // stacked rollups + a projection — joins appear in none of them
    "q_text_window_chunk", "q_evt_ewma", "q_evt_trend",
    // round 13: the exact prefix-filtered joins are equi-joins end to
    // end — prefix self-join on the shingle, verification hash joins
    // on doc ids (a BNLJ here would mean the candidate stage regressed
    // to all-pairs, the exact thing prefix filtering exists to avoid);
    // the multimodal rows are mapPartitions decodes + one left join
    "q_dedup_prefix_join", "q_dedup_containment",
    "q_multimodal_features", "q_multimodal_ppm", "q_multimodal_frames",
    // round 14: exact dedup application = the prefix join + label
    // rounds (doc-keyed equi-joins) + keep-best rollup join — hash
    // joins end to end
    "q_dedup_exact_apply",
    // round 15: frozen-index BM25 serving — the corpus stats ride in
    // as driver LITERALS (no 1-row cross at all); df/score joins
    // broadcast; its scan pruning is pinned by its dedicated test
    "q_text_bm25_serve",
    // round 16: the incrementally-grown sibling serves the same shape
    // across batch GENERATIONS (stats summed driver-side, df rolled up
    // on vocabulary-pruned rows) — still literals + broadcasts only
    "q_text_bm25_incr")

  /** Allow-listed by design: the brute-force exact-rescore baseline
    * (its all-pairs scan IS its job) and IVF (the ≤16-row codebook
    * broadcast in k-means assignment is k·N map-side work by
    * definition). Listed explicitly so adding a new BNLJ anywhere else
    * is a conscious decision.
    */
  private val allowedNestedLoop = Seq("q_sim_topk", "q_sim_ivf",
    // 3-phase curriculum: the k-cut threshold frame is ONE broadcast
    // row cross-joined onto the corpus (scoreQuantileThresholdsOn) —
    // the same 1-row-broadcast shape the 2-phase row and the quantile
    // selectors use; a BNLJ whose build side is literally one row
    "q_shard_curriculum3_plan",
    // prefix-truncation stage 1 scans every corpus PREFIX per query by
    // design (it compresses bytes, not candidates — scaladoc on
    // prefixTopK); stage 2 must stay hash joins, pinned below
    "q_sim_prefix",
    // IVF-PQ reuses ivf's ≤16-row codebook cross joins (training
    // assignment + query probing) — map-side by construction
    "q_sim_ivfpq",
    // the fixed-batch serving row probes the same frozen artifacts —
    // identical codebook cross joins; its scan pruning is pinned by
    // its own dedicated test below
    "q_sim_ivfpq_serve",
    // semantic dedup clusters with the same trained ≤16-row codebook
    "q_dedup_semantic",
    // the capped variant trains with the same codebook; its cap
    // machinery adds only broadcast anti/semi hash joins
    "q_dedup_semantic_capped",
    // hard-negative mining probes the same ≤16-row codebook
    "q_emb_hard_negatives",
    // target encoding broadcasts its ONE-ROW global prior under every
    // label row — a scalar cross join is map-side by construction
    "q_feat_target_enc",
    // same shape: the corpus-total and overflow rows are single-row
    // broadcasts under the |languages|-row mixing table
    "q_text_mixture",
    // triangular (lang_a < lang_b) self-pairing of the AGGREGATED
    // per-language sketch table — |languages|² pairs of bounded
    // metadata, never row data
    "q_agg_kmv_intersect",
    // |sources|×|vocab| grid built from two bounded aggregated sides
    // (plus the 1-row corpus total) — the languageMixture shape
    "q_text_drift",
    // 1-row token-total broadcast under the bigram table — the same
    // scalar cross join as q_text_mixture
    "q_text_collocations",
    // DSIR rides its 1-row totals and 1-row 256-entry model map in as
    // scalar cross joins — map-side by construction, corpus unshuffled
    "q_text_dsir",
    // curriculum plan broadcasts its ONE-ROW quantile threshold under
    // the corpus — the q_feat_target_enc scalar-cross-join shape
    "q_shard_curriculum_plan",
    // BM25 rides its 1-row N/avgdl stats in as a scalar cross join
    // (map-side by construction); its real scale property — postings
    // pruned by the broadcast query vocabulary BEFORE any exchange —
    // is pinned by its own dedicated test below
    "q_text_bm25",
    // hybrid RRF: the lexical side is bm25's shape (1-row stats
    // cross); the dense side broadcasts the FIXED query batch under
    // the embeddings scan for the exact-rescore baseline — the
    // q_sim_topk shape, map-side by construction
    "q_text_hybrid_rrf",
    // frozen-index hybrid: same dense-side broadcast cross; the
    // lexical side has NO stats cross at all (driver literals off the
    // index) — its scan pruning is pinned by its dedicated test below
    "q_text_hybrid_serve")

  private def planOf(name: String): String = {
    val plan = Catalog.byName(name).fn(spark, dir).queryExecution.executedPlan.toString
    // queries persist intermediates while building; don't leak caches
    // across audit cases
    spark.sharedState.cacheManager.clearCache()
    plan
  }

  noNestedLoop.foreach { name =>
    test(s"$name: no BroadcastNestedLoopJoin, no CartesianProduct") {
      val plan = planOf(name)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("allow-listed baselines still compile (BNLJ there is intentional)") {
    allowedNestedLoop.foreach(name => planOf(name))
  }

  test("q_text_window_chunk: the gate ORDER BY is its ONLY exchange (no hash shuffle)") {
    // chunking must ride the scan partitioning — a hashpartitioning
    // exchange here would mean the generate/slice stopped being a
    // per-row map (the property that makes chunk-then-embed one pass)
    val plan = planOf("q_text_window_chunk")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Exchange rangepartitioning"), plan)
  }

  test("LSH band joins plan no Expand (count, not distinct-count)") {
    // (d1, d2, band) is structurally unique, so the band-collision count
    // is a plain count — a distinct aggregate would reintroduce Expand
    // plus a second shuffle over the pair table
    Seq("q_dedup_minhash", "q_dedup_stream_lsh").foreach { name =>
      val plan = planOf(name)
      assert(!plan.contains("Expand"), s"$name plans an Expand:\n$plan")
    }
  }

  test("q_sim_prefix: exactly one nested-loop (the prefix scan); rescore joins are hash") {
    // stage 1's all-candidates prefix scan is the operator's job; the
    // stage-2 shortlist rescore is two EQUI-joins (on cid, on qid) and
    // must never degrade to a second nested loop or cartesian
    val plan = planOf("q_sim_prefix")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj == 1, s"expected exactly 1 BNLJ (prefix stage), got $bnlj:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), s"rescore lost its hash joins:\n$plan")
  }

  test("q_join_range joins hash-style on the band bucket") {
    val plan = planOf("q_join_range")
    assert(
      Seq("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
        .exists(plan.contains),
      plan)
  }

  test("q_feat_ntile plans no window and no single-partition exchange") {
    // the round-5 formulation was NTILE over Window.orderBy with no
    // partitionBy — an Exchange SinglePartition funneling every row
    // through one task. The two-pass boundary rewrite must never
    // regress to that: the returned plan is scan → map-side decile
    // ladder → hash rollup; the only exchanges are the rollup's hash
    // exchange and the 10-row ordering.
    val plan = planOf("q_feat_ntile")
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q_feat_ntile_grouped windows per-language, never single-partition") {
    // the grouped variant is ALLOWED its window — partitionBy(lang)
    // hash-distributes it; what must never appear is the global-NTILE
    // Exchange SinglePartition the ungrouped query was rewritten to kill
    val plan = planOf("q_feat_ntile_grouped")
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("per-group sampling ranks via WindowGroupLimit, never a full group sort") {
    // rank-≤-k predicates over per-group windows must push into
    // WindowGroupLimit (per-partition top-k heaps) — the property that
    // keeps weighted/stratified sampling O(k) memory per group at 100 TB
    Seq("q_sample_weighted", "q_sample_stratified").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("WindowGroupLimit"), s"$name lost the pushdown:\n$plan")
    }
  }

  test("q_sim_ivfpq_serve: index scans prune list_group partitions; query scan pushes the batch cap") {
    // the serving row's whole point is that a fixed query batch reads
    // only the probed slice of a growing index: the grouped layout's
    // partition column must appear as a PartitionFilters INSET on the
    // index file scans (directory pruning at the SCAN, not a
    // post-read filter), with the centroid INSET pushed alongside for
    // row-group stats inside read groups — and the <20000 batch cap
    // must reach the embeddings scan as a pushed filter
    val plan = planOf("q_sim_ivfpq_serve")
    assert("PartitionFilters: \\[list_group[^\\]]*INSET".r.findFirstIn(plan).isDefined,
      s"index scan lost list_group partition pruning:\n$plan")
    assert(plan.contains("In(centroid"),
      s"index scan lost the pushed centroid INSET:\n$plan")
    assert(plan.contains("LessThan(vec_id,20000)"),
      s"query scan lost the fixed-batch cap pushdown:\n$plan")
  }

  test("q_text_bm25: broadcast-only joins (map-side postings prune), top-k via WindowGroupLimit") {
    // the inverted-index property: every real join in the row — the
    // query-vocabulary prune on the exploded postings, the df join,
    // the score join — must be a broadcast hash join (map-side; no
    // unpruned posting ever shuffles). A SortMergeJoin/ShuffledHashJoin
    // appearing here means the prune regressed to shuffling the raw
    // posting stream. The single BNLJ is the 1-row N/avgdl cross.
    val plan = planOf("q_text_bm25")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"postings joins regressed to shuffle joins:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj == 1, s"expected exactly 1 BNLJ (the 1-row stats cross), got $bnlj:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-5 lost the group-limit pushdown:\n$plan")
  }

  test("q_text_bm25_serve: postings scan prunes bucket partitions and pushes the term INSET") {
    // the frozen index's point: a query batch reads only the postings
    // buckets its terms hash into — the bucket INSET must appear as a
    // PartitionFilters entry (directory pruning at the SCAN), with the
    // term membership pushed alongside for row-group stats inside them
    val plan = planOf("q_text_bm25_serve")
    assert("PartitionFilters: \\[bucket[^\\]]*IN".r.findFirstIn(plan).isDefined ||
      "PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"postings scan lost bucket partition pruning:\n$plan")
    assert(plan.contains("In(term"),
      s"postings scan lost the pushed term INSET:\n$plan")
    assert(plan.contains("WindowGroupLimit"), s"top-5 lost the group-limit pushdown:\n$plan")
  }

  /** Fails unless the plan reads the index and EVERY index scan (a
    * FileScan with a `bucket` column) carries the bucket INSET as a
    * PartitionFilters entry and the pushed term INSET. */
  private def assertIndexScansPruned(plan: String): Unit = {
    val scans = plan.linesIterator
      .filter("FileScan parquet \\[[^\\]]*\\bbucket#".r.findFirstIn(_).isDefined).toSeq
    assert(scans.nonEmpty, s"no index scan in the plan:\n$plan")
    scans.foreach { scan =>
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(scan).isDefined,
        s"index scan lost bucket partition pruning:\n$scan\n$plan")
      assert(scan.contains("In(term"),
        s"index scan lost the pushed term INSET:\n$scan\n$plan")
    }
  }

  test("q_text_hybrid_serve: lexical tower reads the pruned frozen index, fused top-k group-limited") {
    // the deployment-shaped hybrid must inherit the serve row's scan
    // economics unchanged: bucket partition pruning on every index
    // scan with the term INSET pushed, while the fusion tail plans its
    // per-query top-k as a group limit, not a global sort
    val plan = planOf("q_text_hybrid_serve")
    assertIndexScansPruned(plan)
    assert(plan.contains("WindowGroupLimit"),
      s"fused top-k lost the group-limit pushdown:\n$plan")
  }

  test("q_text_bm25_incr: cross-generation serve keeps bucket pruning + pushed term INSET") {
    // the incremental layout adds a batch= partition level; the
    // serving scan must still prune to the query's buckets at planning
    // time (across ALL generations) and push the term membership down
    val plan = planOf("q_text_bm25_incr")
    // every index scan must carry the bucket INSET as a
    // PartitionFilters entry (one driver-side prune list)
    assertIndexScansPruned(plan)
    assert(plan.contains("WindowGroupLimit"), s"top-5 lost the group-limit pushdown:\n$plan")
  }

  test("q1_pricing scan pushes its filter and prunes columns") {
    val plan = planOf("q1_pricing")
    // a FileSourceScan with a non-empty PushedFilters list
    assert("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan)
    // pruned read schema: the 11-column lineitem scan must not read the
    // join keys the aggregate never touches
    assert(!plan.contains("l_partkey"), "scan reads l_partkey — pruning lost")
    assert(!plan.contains("l_orderkey"), "scan reads l_orderkey — pruning lost")
  }
}
