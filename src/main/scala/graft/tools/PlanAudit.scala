package graft.tools

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: asserts the properties that matter at 100 TB —
  * column pruning to the parquet scan, filter pushdown, broadcastability,
  * and absence of accidental shuffles in the extraction path.
  * Run: sbt "runMain graft.tools.PlanAudit"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failures = 0
    def check(name: String)(cond: Boolean, detail: => String): Unit = {
      if (cond) println(s"OK   $name")
      else { failures += 1; println(s"FAIL $name\n$detail") }
    }

    // 1. extraction query prunes to (doc_id, text): ReadSchema must not
    //    mention lang/source/n_chars
    val vt = graft.SparkEntry.queries("q_visible_text")(spark, sfDir)
    val vtPlan = vt.queryExecution.executedPlan.toString
    check("q_visible_text prunes scan to doc_id,text")(
      vtPlan.contains("ReadSchema") && !vtPlan.contains("n_chars"), vtPlan)
    check("q_visible_text has no shuffle")(
      !vtPlan.contains("Exchange"), vtPlan)

    // 2. flagship extraction pipeline: exactly the declared shuffles
    val entryPlan = graft.SparkEntry.entry(spark).queryExecution.executedPlan.toString
    check("entry extraction is shuffle-free")(
      !entryPlan.contains("Exchange"), entryPlan)

    // 3. ANN query: the query set collects eagerly (broadcast small side) so
    //    the remaining plan is the base scan — it must prune to
    //    (vec_id, embedding) and the label column must not be read
    val ann = graft.SparkEntry.queries("q_ann_cosine")(spark, sfDir)
    val annPlan = ann.queryExecution.executedPlan.toString
    check("q_ann_cosine prunes base scan (no label col)")(
      !annPlan.contains("label"), annPlan)

    // 4. doc_stats agg: partial aggregation before the exchange
    val stats = graft.SparkEntry.queries("q_doc_stats")(spark, sfDir)
    val statsPlan = stats.queryExecution.executedPlan.toString
    check("q_doc_stats has map-side partial agg")(
      statsPlan.contains("HashAggregate") &&
        statsPlan.indexOf("HashAggregate") < statsPlan.indexOf("Exchange"), statsPlan)

    // 5. transcript pipeline: one shuffle for the window, none extra
    val tx = graft.SparkEntry.queries("q_transcript_extract")(spark, sfDir)
    val txPlan = tx.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(txPlan).length
    check("q_transcript_extract has exactly 1 shuffle (window)")(
      exchanges == 1, s"found $exchanges exchanges\n$txPlan")

    // 6. dedup exact: partial agg + single shuffle on md5 key
    val dd = graft.SparkEntry.queries("q_dedup_exact")(spark, sfDir)
    val ddPlan = dd.queryExecution.executedPlan.toString
    check("q_dedup_exact single shuffle with partial agg")(
      "Exchange".r.findAllIn(ddPlan).length == 1 && ddPlan.contains("HashAggregate"), ddPlan)

    // 7. dataset digest: global aggregates must be PARTIAL before their
    //    exchange (constant state per task, never a row concentration) and
    //    the single-row cross join must not introduce a broadcast of data
    val dg = graft.SparkEntry.queries("q_dataset_digest")(spark, sfDir)
    val dgPlan = dg.queryExecution.executedPlan.toString
    check("q_dataset_digest partial-aggregates before exchange")(
      dgPlan.contains("HashAggregate") || dgPlan.contains("SortAggregate"), dgPlan)
    check("q_dataset_digest single-row join is not a data shuffle join")(
      !dgPlan.contains("SortMergeJoin"), dgPlan)

    // 8. embedding near-dup (load-bounded): bucket-keyed joins only — the
    //    plan must join on the bucket column, never a cartesian product
    val ed = graft.SparkEntry.queries("q_embed_near_dup")(spark, sfDir)
    val edPlan = ed.queryExecution.executedPlan.toString
    check("q_embed_near_dup joins on bucket key (no cartesian)")(
      !edPlan.contains("CartesianProduct"), edPlan)

    // 9. pure-columnar text stats: no UDF (ScalaUDF / BatchEvalPython)
    //    anywhere — everything is native expressions (higher-order
    //    filter/transform lambdas sit above a codegen'd scan, shown as the
    //    `*(n)` whole-stage markers in the executed plan)
    val qual = graft.SparkEntry.queries("q_quality")(spark, sfDir)
    val qualPlan = qual.queryExecution.executedPlan.toString
    check("q_quality is UDF-free with a codegen'd scan")(
      qualPlan.contains("*(") && !qualPlan.contains("ScalaUDF") &&
        !qualPlan.contains("BatchEvalPython"),
      qualPlan)

    // 10. multimodal decode: shuffle-free per-row map over a scan pruned
    //     to (doc_id, text) — feature/meta work is map-side everywhere
    val mm = graft.SparkEntry.queries("q_multimodal")(spark, sfDir)
    val mmPlan = mm.queryExecution.executedPlan.toString
    check("q_multimodal decode is shuffle-free")(
      !mmPlan.contains("Exchange"), mmPlan)
    check("q_multimodal prunes scan (no lang/source cols)")(
      !mmPlan.contains("lang") && !mmPlan.contains("source,"), mmPlan)

    // 11. conversation digest Aggregator: partial (ObjectHashAggregate /
    //     SortAggregate partial) before the exchange — O(1) state per group,
    //     never a collect_list-style row concentration
    val cd = graft.SparkEntry.queries("q_conv_digest")(spark, sfDir)
    val cdPlan = cd.queryExecution.executedPlan.toString
    check("q_conv_digest partial-aggregates before its exchange")(
      (cdPlan.contains("Aggregate")) &&
        cdPlan.indexOf("Aggregate") < cdPlan.indexOf("Exchange"), cdPlan)

    // 12. near-dup candidate pipeline: banded bucket joins only
    val nd = graft.SparkEntry.queries("q_near_dup_pairs")(spark, sfDir)
    val ndPlan = nd.queryExecution.executedPlan.toString
    check("q_near_dup_pairs has no cartesian product")(
      !ndPlan.contains("CartesianProduct"), ndPlan)

    // 13. LSH top-k: bucket-keyed join + windowed rank, no cartesian
    val lt = graft.SparkEntry.queries("q_ann_lsh_topk")(spark, sfDir)
    val ltPlan = lt.queryExecution.executedPlan.toString
    check("q_ann_lsh_topk joins on bucket key (no cartesian)")(
      !ltPlan.contains("CartesianProduct"), ltPlan)

    // 14. main-content selection: per-row scoring must stay shuffle-free
    //     and prune the scan to the columns the wrapper html needs
    val mcPlan = graft.SparkEntry.queries("q_main_content")(spark, sfDir)
      .queryExecution.executedPlan.toString
    check("q_main_content is shuffle-free")(
      !mcPlan.contains("Exchange"), mcPlan)
    check("q_main_content prunes scan (no n_chars col)")(
      mcPlan.contains("ReadSchema") && !mcPlan.contains("n_chars"), mcPlan)

    // 15. transcript-shaped main extraction: exactly the window's shuffle
    val mtPlan = graft.SparkEntry.queries("q_main_transcript")(spark, sfDir)
      .queryExecution.executedPlan.toString
    check("q_main_transcript has exactly 1 shuffle (window)")(
      "Exchange".r.findAllIn(mtPlan).length == 1, mtPlan)

    // 16. line-level dedup: the boilerplate count must partial-aggregate
    //     map-side before its exchange (hot line keys combine locally).
    //     Plans print top-down, so the final count sits above the Exchange
    //     and the partial-mode count must appear below it
    val ldPlan = graft.SparkEntry.queries("q_line_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val ldExchange = ldPlan.indexOf("Exchange")
    check("q_line_dedup partial-aggregates before its exchange")(
      ldExchange >= 0 && ldPlan.indexOf("partial_count(", ldExchange) > ldExchange, ldPlan)

    // 17. connected components: label propagation is hash joins only —
    //     a cartesian would mean the edge/label join lost its key
    val ccPlan = graft.SparkEntry.queries("q_dedup_clusters")(spark, sfDir)
      .queryExecution.executedPlan.toString
    check("q_dedup_clusters has no cartesian product")(
      !ccPlan.contains("CartesianProduct"), ccPlan)

    println(if (failures == 0) "ALL PLAN CHECKS PASSED" else s"$failures CHECKS FAILED")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
