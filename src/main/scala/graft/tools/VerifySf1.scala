package graft.tools

/** Scratch: round-10 brief item 6 — sf1 CORRECTNESS (not just timing).
  * Runs the five headline table-format queries from SparkEntry against the
  * 10x generated tables under /tmp/graft_sf1_full and dumps results +
  * oracle SQL exactly like graft.Verify, so the DuckDB comparison can run
  * at sf1. Evidence lands in PLANS.md.
  */
object VerifySf1 {
  val Headline = Seq(
    "q_icebox_upsert", "q_merge_mor", "q_delete_mor", "q_change_diff",
    "q_dedup_components",
    // round-11 additions: the MV family's heavy paths at 10x — join-MV
    // bilinear delta, distinct-count touched-group recompute, and the
    // Catalyst rewrite (its _mv-files require runs inside the query)
    "q_mv_join", "q_mv_distinct", "q_mv_catalyst",
    // round-11 session additions: star-MV telescoped delta over a 6M-row
    // fact with both-dim deletes; NDV sketch accuracy require at 1.5M
    // distinct keys (both requires run INSIDE the queries)
    "q_mv_star", "q_ndv_meta",
    // round-12: ExactSubstr span removal at 10x corpus bytes (the gram
    // shuffle is ~L x corpus — the one r11 operator with no 10x proof),
    // and the snowflake-chain MV through the DDL surface
    "q_exact_substr", "q_mv_snowflake",
    // round-13: DSIR after the honest-cost rewrite (two gram-explode
    // passes, zero retained state) — no 10x proof existed; expectation is
    // linear in corpus bytes (three tokenize passes, ≤buckets-row collects)
    "q_dsir_weights",
    // round-13: incremental near-dup inserts at 10x — waves are 10x docs,
    // the index probe must track the batch; in-query requires guard recall
    "q_neardup_insert", "q_embed_neardup_insert",
    // round-13: persisted IVF index at 10x vectors (in-query pruned-files
    // require; oracle = the same assignment arithmetic at 20k vectors)
    "q_ann_ivf_insert",
    // round-13: SemDeDup at 10x vectors — the 10 re-id'd exact copies make
    // every distinct vector an 11-member duplicate group (10 copies + the
    // planted one for vec_id<20), so the min-id fp arithmetic stays exact
    // while the component graph is 10x denser than at sf0.1
    "q_semdedup",
    // round-14 brief item 6: the r13 newcomers without sf1 rows — both CBO
    // proofs (the plan-flip requires must hold on 10x stats too), the
    // runtime bloom-join prune, metadata percentiles over a 600k-row
    // histogram, and the IVF migration (its pruned-read require runs
    // in-query at any SF)
    "q_cbo_join", "q_cbo_order", "q_bloom_join", "q_percentile_meta",
    "q_ann_ivf_retrain",
    // round-14 new operator: LM perplexity filter at 10x docs (the copy
    // suffixes widen the vocabulary; training + scoring replay in SQL)
    "q_lm_perplexity",
    // round-15 additions: CCNet selection (per-language percent_rank over
    // 50k docs), order-5 hashed-key LM (the widest join chain at 10x gram
    // volume), IVF-PQ (codes-only index at 20k vectors — the recall/bytes/
    // pruning requires run in-query at any SF), and the snowflake-chain
    // Catalyst rewrite over the 6M-row fact
    "q_ccnet_select", "q_lm_5gram", "q_ann_ivfpq", "q_mv_snowflake_catalyst",
    // round-15 cutoff flavor of CCNet selection (exact-percentile path;
    // the approx default is spec-covered)
    "q_ccnet_cutoff")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf1_full"
    val outDir = if (args.length > 1) args(1) else "/tmp/verify-sf1"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = graft.GraftSession.builder("local[32]", shufflePartitions = 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Headline.filter(n => only.forall(_.contains(n))).foreach { name =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    val sqls = graft.SparkEntry.oracleSql.filter(kv => Headline.contains(kv._1))
    val json = sqls.map { case (k, v) =>
      "\"" + k + "\": " + com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build().writeValueAsString(v)
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
