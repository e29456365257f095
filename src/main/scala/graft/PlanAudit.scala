package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit (SURVEY.md §4, task brief: ".explain the plan
  * and iterate until it's the plan you'd want"). Dumps formatted plans
  * for representative queries so pushdown / broadcast / codegen claims
  * are checkable artifacts, not assertions.
  *
  * Run: sbt "runMain graft.PlanAudit [sfDir] [outFile]"
  */
object PlanAudit {
  val Audited: Seq[String] = Seq(
    "filter_pred",     // expect PushedFilters at the parquet scan
    "project",         // expect pruned ReadSchema (3 cols of 11)
    "join_broadcast",  // expect BroadcastHashJoin, no shuffle on fact side
    "join_salted",     // expect the salted key in the shuffle
    "agg_hash",        // expect partial+final HashAggregate, WSCG spans
    "kg_mentions",     // expect Generate(posexplode) inside the scan stage
    "ann_bruteforce",  // expect broadcast of the 1-row query side
    "ann_lsh_batch",   // expect ONE equi-join on bucket + window rank
    "dedup_minhash_pairs", // expect band equi-join, no cartesian
    "dedup_simhash_pairs", // expect multi-table key equi-join, no cartesian
    "ann_lsh_probe",   // expect probe-side explode, still ONE equi-join
    "ann_recall",      // expect bucketed approx side + (query-sample × corpus) exact side
    "ann_ivf",         // expect cell equi-join against broadcast 1-row query, top-k,
                       //   vec_ivf_cell assignment (codegen, broadcast centroids — r5)
    "ann_ivf_probe",   // expect query-side explode of vec_ivf_probes, ONE cell equi-join
    "dedup_survivors", // expect corpus-side broadcast anti/left joins vs dup-graph tables (r5)
    "kg_triples",      // expect broadcast canon join, ONE corpus scan, NO media join (r4)
    "graph_comention", // expect two-level in-row pair explode + window over the
                       //   memoized triple table — no pair SELF-join (the canon
                       //   broadcast join belongs to the triple chain and is
                       //   expected; ADVICE r5)
    "graph_pagerank",  // expect ranks read from the driver loop's local relation
                       //   (under the size gate); above it, from the round-truncated
                       //   checkpoint — constant depth however many iterations ran (r5)
    "graph_triangles", // expect InMemory mutual-edge reuse on all three legs (r5)
    "topk")            // expect TakeOrderedAndProject, not global sort

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("target/plan-audit.txt")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    Audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n========== $name ==========\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val outPath = java.nio.file.Paths.get(out).toAbsolutePath
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.writeString(outPath, sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
