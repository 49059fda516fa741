package graft.tools

import graft.{Catalog, GraftSession}

/** Plan-quality audit: prints the formatted physical plan of selected
  * catalog queries so pushdown/broadcast/codegen can be inspected.
  * Run: sbt "runMain graft.tools.ExplainAudit q1_pricing q5_multiway ..."
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // default set = the headline plans PLUS every heavy dedup/similarity
    // query, so PLANS.md documents the shapes that matter at scale —
    // not just the flattering ones
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing", "q5_multiway", "q_join_inner", "q_join_range",
      "q_evt_tumbling",
      "q_sim_lsh_bucketed", "q_sim_topk", "q_sim_ivf",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_stream_lsh",
      "q_dedup_simhash", "q_dedup_simhash_hamming",
      "q_dedup_jaccard", "q_text_contamination", "q_dedup_embedding", "q_dedup_clusters",
      "q_dedup_apply", "q_text_tfidf",
      "q_evt_funnel", "q_evt_attribution", "q_sample_stratified",
      "q_dedup_cc", "q_dedup_cc_star", "q_dedup_editdist", "q_dedup_length_routed",
      "q_evt_attribution_capped", "q_text_pii", "q_text_boilerplate",
      "q_text_bigram_lm", "q_evt_retention", "q_evt_transitions", "q_evt_wau",
      "q_feat_zscore", "q_feat_ntile",
      "q_text_perceptron", "q_emb_pca")
    val spark = GraftSession.local(4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"===== $n =====")
      Catalog.byName(n).fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
