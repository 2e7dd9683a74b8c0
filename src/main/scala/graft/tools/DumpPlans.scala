package graft.tools

import graft.pipeline.{Extract, ExtractConf, Fixtures}

/** Writes PLANS.md: the executed physical plans of the flagship pipeline
  * and the heaviest/most interesting contract queries, as standing evidence
  * of the plan shapes the scale claims rest on (zero-shuffle common path,
  * pushed filters, partition-pruned indexes, broadcast dims, single-shuffle
  * as-of). Usage: runMain graft.tools.DumpPlans <sfDir> <outFile>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.LocalSession(4, 4)

    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans (generated by graft.tools.DumpPlans)\n\n")
    sb.append(s"Input: `$sfDir`. Plans are FINALIZED (each query executed so AQE\n")
    sb.append("re-planning and whole-stage codegen appear — an unexecuted\n")
    sb.append("AdaptiveSparkPlan prints the initial plan only).\n")

    def section(title: String, notes: String)(plan: => String): Unit = {
      sb.append(s"\n## $title\n\n$notes\n\n```\n")
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n")
    }

    // flagship extraction (fixture corpus incl. a mega doc → both branches)
    section("extraction pipeline (common path, no megas)",
      "Single stage scan → mapPartitions(kernel) → sink; ZERO Exchange. The metadata " +
        "pass ran before as its own job and found no tail, so nothing is skipped. A corpus " +
        "whose docs above the skewPageThreshold floor hold, per input partition, no more " +
        "than one task's share of the pages plans the same way: they stay in this stage.") {
      val s2 = spark
      import s2.implicits._
      val ds = Extract.extractDS(spark,
        spark.createDataset((0 until 48).map(Fixtures.doc)),
        conf = ExtractConf(numPartitions = 4))
      ds.collect()
      ds.queryExecution.executedPlan.toString
    }
    section("extraction metadata pass (size guard + skew probe, one job)",
      "Nested pruning: with the size term (`Extract.run`) the scan reads spans.text for " +
        "the byte estimate; `extractDS` reads doc_id + spans.{kind,media_ref} only. " +
        "The pass keeps only the tail rows (over-size, or above the skewPageThreshold " +
        "floor, with their pages) and sums every accepted doc's pages in an accumulator; " +
        "the driver keeps as megas the tail docs of each pass partition whose tail docs " +
        "together hold more than max(floor, Σ pages ÷ max(pass partitions, " +
        "defaultParallelism)) pages.") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-plans").toString
      Fixtures.testDocsDS(spark).toDF().write.mode("overwrite").parquet(s"$tmp/docs")
      val docs = graft.sources.Io().readDocs(spark, s"$tmp/docs")
      val conf = ExtractConf(numPartitions = 4)
      val pass = Extract.tailPass(spark, docs, graft.media.DeterministicMediaStore, conf,
        Some(conf.maxDocBytes))
      pass.collect()
      pass.queryExecution.executedPlan.toString
    }
    section("extraction pipeline (with mega docs: salted skew branch)",
      "The two 256-page megas hold more than one task's share of this 50-doc corpus, so " +
        "they are salted. Common branch skips the rejected and mega ids through one " +
        "broadcast set; skew branch re-reads behind a pushed `doc_id IN`, spreads " +
        "(doc_id, salt), merges per doc.") {
      val ds = Extract.extractDS(spark, Fixtures.testDocsDS(spark),
        conf = ExtractConf(numPartitions = 4))
      ds.collect()
      ds.queryExecution.executedPlan.toString
    }

    val queryNotes = Seq(
      "q2_revenue_by_nation" -> "star join: dims broadcast, fact shuffles once",
      "q_asof_join" -> "as-of join: union → ONE hashpartitioning(user_id) exchange → Window; no range cross join",
      "dd_minhash_lsh" -> "banded LSH self-join: ReuseExchange on the repartitioned band table (signature computed once)",
      "dd_embed_near" -> "SRP band candidates + exact-dot verify on candidates only (no all-pairs block)",
      "ann_lsh_indexed" -> "bucket predicate as PartitionFilters on the materialized index (directory pruning)",
      "ann_ivf_indexed" -> "probed clusters as PartitionFilters on the cluster-partitioned index",
      "q_lang_detect" -> "native lang_detect expression inside whole-stage codegen (the `*(n)` markers)",
      "dd_incremental" -> "incremental probe: base state read from the materialized bandidx files (bands + sets), batch side only touches the corpus",
      "dd_simhash_md5" -> "native md5_simhash_bits (round 6): pure per-row map — ZERO Exchange before the output sort (was explode + 64 contribution columns + one aggregate exchange)",
      "pipe_curate" -> "final stage of the composed curation job (round 4: exact-dedup-first — the fp window feeds guarded LSH upstream; anti-join against losers + fused quality/sample predicates)",
      "dd_decontam" -> "benchmark side broadcast (corpus n-grams are a map-side probe, never a shuffle key); per-doc aggregate only over contamination hits",
      "pipe_pack" -> "per-shard packing window: Exchange hashpartitioning(source), never SinglePartition — the cumsum runs inside each shard",
      "q_gopher_lines" -> "line-shape rules: pure per-row map over the scan (derived line array + counts inside one codegen stage, ZERO Exchange before the output sort)",
      "dd_lines_boilerplate" -> "boilerplate lines (round 6): DF aggregate + membership probe keyed on fixed-width md5(line); the forced broadcast hint is gone — AQE picks the join strategy from measured size (broadcast here, shuffled when the qualifying set is web-corpus-sized)",
      "dd_substring_spans" -> "token-window substring dedup (round 6): fused native md5_window_hashes per row, df>=2 via map-side-combined aggregate, semi join back by hash (no broadcast assumption), n_windows by arithmetic (no third hash-subtree evaluation)",
      "q_cap_per_lang" -> "per-group cap: ONE hashpartitioning(lang) exchange + per-group window (the per-domain production shape; see the query's scale note on low-cardinality keys)")
    for ((name, note) <- queryNotes) section(name, note) {
      val df = graft.Queries.all(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
