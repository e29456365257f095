package kgbench

import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Metric names and units. BENCHMARK.json lists the same names; the
  * smoke test checks that the two agree. */
object Metrics {
  /** Printed by every untraced run. What `call_s` and `followup_s` time
    * depends on the workload (see [[Workloads]]). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "call_s" -> "s", "followup_s" -> "s", "store_mb" -> "MB", "heap_peak_mb" -> "MB")

  /** Printed by every traced run; a layer the workload does not run
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "gazetteer.wall_s" -> "s", "gazetteer.task_s" -> "s",
    "mentions.wall_s" -> "s", "mentions.task_s" -> "s", "mentions.gc_s" -> "s",
    "mentions.spans_in" -> "count", "mentions.rows_out" -> "count", "mentions.task_skew" -> "ratio",
    "links.wall_s" -> "s", "links.rows_in" -> "count", "links.rows_out" -> "count",
    "links.shuffle_write_mb" -> "MB", "links.spill_mb" -> "MB", "links.task_skew" -> "ratio",
    "canonical.wall_s" -> "s", "canonical.jobs" -> "count",
    "triples.wall_s" -> "s", "triples.rows_out" -> "count", "triples.dedup_ratio" -> "ratio",
    "triples.shuffle_write_mb" -> "MB", "triples.task_skew" -> "ratio",
    "store.commit.wall_s" -> "s", "store.commit.count" -> "count", "store.commit_overhead_s" -> "s",
    "store.manifests_ms" -> "ms", "store.markers_ms" -> "ms", "store.snapshots" -> "count",
    "store.read_plan_ms" -> "ms", "store.write_mb" -> "MB", "store.files" -> "count",
    "analytics.degree.wall_s" -> "s", "analytics.comention.wall_s" -> "s",
    "analytics.pagerank.wall_s" -> "s", "analytics.pagerank.jobs" -> "count",
    "analytics.shuffle_write_mb" -> "MB", "analytics.spill_mb" -> "MB",
    "incr.batches" -> "count", "incr.batch_p50_ms" -> "ms", "incr.batch_p90_ms" -> "ms",
    "incr.add_batch_ms" -> "ms", "incr.query_planning_ms" -> "ms", "incr.wal_commit_ms" -> "ms",
    "incr.rows_per_batch" -> "count", "incr.latency_growth" -> "ratio",
    "pipeline.jobs" -> "count", "pipeline.unattributed_s" -> "s", "pipeline.inmemory_s" -> "s",
    "resume.wall_s" -> "s", "resume.noop_wall_s" -> "s",
    "resume.scan_rows_read" -> "count", "resume.scan_keep_ratio" -> "ratio",
    "resume.markers_hit_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "trace.overhead_frac" -> "ratio")
}

/** Operations attempted and failed, and the values a run reports. */
final class Tally {
  var attempted = 0
  var failed = 0

  /** One timed call into the program; a throw counts as failed. */
  def call[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[kgbench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** An output check; a false one counts against the call it checks. */
  def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case e: Throwable =>
        System.err.println(s"[kgbench] check $what threw: $e")
        false
    }
    println(s"[kgbench] check $what: ${if (pass) "ok" else "FAILED"}")
    if (!pass) failed += 1
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      smoke: Boolean, work: Path)

object Main {
  val WorkloadNames = Seq("kg-build", "kg-incremental")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def metricsJson(metrics: Seq[(String, String)], values: Map[String, Double]): String =
    metrics.map { case (n, u) => s""""$n":{"value":${num(values.getOrElse(n, 0.0))},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def resultJson(t: Tally, metrics: Seq[(String, String)], values: Map[String, Double]): String =
    s"""{"correct":${t.failed == 0 && t.attempted > 0},"attempted":${t.attempted},"failed":${t.failed},"metrics":${metricsJson(metrics, values)}}"""

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val smoke = args.contains("--smoke")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = if (smoke) "all" else need("--workload")
    require(smoke || WorkloadNames.contains(workload),
      s"unknown workload '$workload' (one of ${WorkloadNames.mkString(", ")})")
    Opts(workload, kv.getOrElse("--seed", "1").toLong, kv.getOrElse("--seconds", "10").toDouble,
      kv.get("--trace").contains("1"), smoke, Path.of(need("--work")))
  }

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val o = parse(args)
    val work = Files.createTempDirectory(Files.createDirectories(o.work), "run-")
    val code =
      try {
        val spark = session(work)
        try if (o.smoke) Smoke.run(spark, work) else single(spark, o, work)
        finally spark.stop()
      } finally Fs.delete(work)
    sys.exit(code)
  }

  private def single(spark: SparkSession, o: Opts, work: Path): Int = {
    val t = new Tally
    val r = Workloads.run(spark, o.workload, o.seed, o.seconds, o.trace, Sizes.full, t, work)
    writeSpans(o, r.spans)
    println(resultJson(t, if (o.trace) Metrics.PerLayer else Metrics.EndToEnd, r.values))
    0
  }

  /** Spans go next to the work root (outside the removed run dir). */
  private def writeSpans(o: Opts, spans: Seq[Span]): Unit = if (spans.nonEmpty) {
    val out = Files.createDirectories(o.work.resolve("traces"))
      .resolve(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}.jsonl")
    Files.writeString(out, spans.map(_.json).mkString("", "\n", "\n"))
    println(s"[kgbench] spans: ${spans.size} written to ${o.work.getFileName}/traces/${out.getFileName}")
  }
}

/** The smoke mode: every workload on a tiny fixed-seed input, one
  * untraced and one traced iteration each, so every metric and every
  * output check runs. */
object Smoke {
  val Seed = 7L

  def run(spark: SparkSession, work: Path): Int = {
    val t = new Tally
    for (w <- Main.WorkloadNames) {
      val r = Workloads.run(spark, w, Seed, 0.0, trace = true, Sizes.smoke, t, work)
      println(s"[kgbench] smoke $w end_to_end " + Main.metricsJson(Metrics.EndToEnd, r.values))
      println(s"[kgbench] smoke $w per_layer " + Main.metricsJson(Metrics.PerLayer, r.values))
    }
    println(Main.resultJson(t, Nil, Map.empty))
    if (t.failed == 0) 0 else 1
  }
}
