package kgbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.kgbench.Drain
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.kg.{Engine, Pipeline, Stages}
import graft.sources.SnapshotStore
import graft.streaming.StreamOps

/** Input sizes and repetitions. Each workload computes its reference
  * triples (in-memory `Engine.run`) before timing, which also warms
  * the engine's operators. The median over kg-build's three or more
  * iterations drops the first, colder one; kg-incremental drains its
  * backlog once, and its batch p50 does not see the cold first
  * batches. A traced run makes at least two iterations, one of each
  * kind. */
final case class Sizes(buildFiles: Int, buildDocsPerFile: Int,
                       incrFiles: Int, incrDocsPerFile: Int,
                       setups: Int, minIters: Map[String, Int])

object Sizes {
  val smoke: Sizes = Sizes(2, 60, 4, 10, setups = 1, minIters = Map("kg-build" -> 1, "kg-incremental" -> 1))
  val full: Sizes = Sizes(8, 750, 32, 10, setups = 3, minIters = Map("kg-build" -> 3, "kg-incremental" -> 1))
}

/** What one workload run reports: metric values and its spans. */
final case class Result(values: Map[String, Double], spans: Seq[Span])

/** The workloads. Both report the same end-to-end metrics:
  *  - `call_s`: the median production call — a fresh `Pipeline.run`
  *    (kg-build) or one micro-batch trigger of
  *    `StreamOps.incrementalTriples` draining the backlog
  *    (kg-incremental);
  *  - `followup_s`: `Pipeline.runAnalytics` (kg-build) or the consumer
  *    read `store.read(triples).distinct().count()` (kg-incremental);
  *  - `store_mb`, `heap_peak_mb`, `setup_s`.
  * kg-build also times a crash-resume and a no-op resume; they are
  * printed and traced, not gated.
  * With tracing, odd iterations run traced and even ones untraced, so
  * one run measures its own tracing overhead. */
object Workloads {
  private val MB = 1048576.0
  private val PipelineMarkers = Pipeline.NumBuckets + 3 // buckets, links, canonical, triples
  private val ConsumerReads = 9

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
          sz: Sizes, t: Tally, work: Path): Result = {
    val c = new Ctx(spark, workload, seed, seconds, trace, sz, t, work)
    workload match {
      case "kg-build" => build(c)
      case "kg-incremental" => incremental(c)
    }
  }

  /** Shared state and bookkeeping of one workload run. */
  private final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                          val seconds: Double, val trace: Boolean, val sz: Sizes,
                          val t: Tally, val work: Path) {
    /** Prints one line of the run's report right away. */
    def note(line: String): Unit = println(s"[kgbench] $workload $line")
    val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
    val layers: mutable.ArrayBuffer[Map[String, Double]] = mutable.ArrayBuffer()
    val heapMb: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer()
    /** Per metric, the samples of untraced (false) and traced (true) iterations. */
    private val samples = mutable.Map[(String, Boolean), mutable.ArrayBuffer[Double]]()
    private val dir = Files.createDirectories(work.resolve(s"$workload-${System.nanoTime()}"))

    def path(name: String): Path = dir.resolve(name)
    def add(metric: String, traced: Boolean, v: Double): Unit =
      samples.getOrElseUpdate((metric, traced), mutable.ArrayBuffer()) += v
    def get(metric: String, traced: Boolean = false): Seq[Double] =
      samples.get((metric, traced)).map(_.toSeq).getOrElse(Nil)
    /** Median of a metric's samples. The first untraced iteration is a
      * warm-up: its samples count only when there are no others. */
    def med(metric: String, traced: Boolean = false): Double = {
      val xs = get(metric, traced)
      Stats.median(if (!traced && xs.size > 1) xs.tail else xs)
    }
    /** For printed lines: the untraced median, or the traced one when
      * only traced iterations took the metric. */
    def shown(metric: String): (Double, Int) =
      if (get(metric).nonEmpty) (med(metric), get(metric).size)
      else (med(metric, traced = true), get(metric, traced = true).size)

    /** Runs `one` `sz.setups` times, each into a fresh directory; keeps
      * the last result and returns it with the median set-up time. */
    def setup[T](one: Path => T): (T, Double) = {
      val rs = (0 until sz.setups).map { k =>
        if (k > 0) Fs.delete(path(s"setup-${k - 1}"))
        Stats.seconds(one(Files.createDirectories(path(s"setup-$k"))))
      }
      (rs.last._1, Stats.median(rs.map(_._2)))
    }

    /** Iterations until `seconds` would be exceeded, at least
      * `sz.minIters`. A traced run makes at least three: the untraced
      * warm-up, a traced one and an untraced one to compare it with. */
    def loop(iter: (Int, Boolean) => Unit): Unit = {
      val t0 = System.nanoTime()
      val min = if (trace) math.max(3, sz.minIters(workload)) else sz.minIters(workload)
      var i = 0
      var last = 0.0
      while (i < min || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
        val traced = trace && i % 2 == 1
        last = Stats.seconds(iter(i, traced))._2
        note(f"iteration $i traced=$traced took $last%.2f s")
        if (!traced) heapMb += Stats.heapAfterGcMb()
        i += 1
      }
    }

    /** Runs `body` with a job log installed when `traced`. */
    def logged[T](traced: Boolean)(body: Option[JobLog] => T): T =
      if (!traced) body(None)
      else {
        val log = new JobLog
        spark.sparkContext.addSparkListener(log)
        try body(Some(log)) finally spark.sparkContext.removeSparkListener(log)
      }

    def tracer(traced: Boolean, i: Int): Tracer = new Tracer(s"$workload-$seed-$i", traced)

    def result(endToEnd: Map[String, Double], named: Seq[String]): Result = {
      val overhead = Stats.median(get("call_s", traced = true)) / med("call_s") - 1.0
      val perLayer = if (layers.isEmpty) Map.empty[String, Double]
        else layers.flatMap(_.keys).distinct.map(k => k -> Stats.median(layers.flatMap(_.get(k)).toSeq)).toMap
      val values = endToEnd ++ Map("heap_peak_mb" -> heapMb.maxOption.getOrElse(0.0)) ++
        perLayer ++ (if (trace) Map("trace.overhead_frac" -> overhead) else Map.empty)
      named.foreach(note)
      note(f"heap_peak_mb=${values("heap_peak_mb")}%.1f MB setup_s=${values("setup_s")}%.3f s " +
        f"attempted=${t.attempted} failed=${t.failed}")
      if (trace) note(f"trace.overhead_frac=$overhead%.4f (traced call_s ${Stats.median(get("call_s", traced = true))}%.4f s " +
        f"vs untraced ${med("call_s")}%.4f s)")
      Fs.delete(dir)
      Result(values, spans.toSeq)
    }
  }

  private def tripleSet(df: DataFrame): DataFrame = df.select(col("subj"), col("pred"), col("obj"))

  private def sameSet(a: DataFrame, b: DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  private def gazetteer(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    Stages.gazetteer(spark, sfDir).select(col("surface"), col("coarse_type"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  /** In-memory `Engine.run` over the same inputs and dictionaries the
    * store was built from: the reference triple set. */
  private def oracle(spark: SparkSession, in: Gen.Inputs): DataFrame = {
    val gaz = gazetteer(spark, in.sfDir)
    val surf = gaz.map(_._1)
    tripleSet(Engine.run(spark.read.parquet(in.corpusPath), gaz, Stages.anchorDictLocal(spark, surf),
      Stages.aliasEdgesLocal(spark, surf), Stages.scoreBoost))
  }

  private def triplesOf(spark: SparkSession, store: SnapshotStore): DataFrame =
    tripleSet(store.read(spark, stage = Some("triples")))

  private def tripleRows(store: SnapshotStore): Long =
    store.liveManifests().filter(_.stage == "triples").map(_.rows).sum

  private def liveMarkers(store: SnapshotStore): Set[String] = store.liveManifests().map(_.marker).toSet

  private def runPipeline(spark: SparkSession, in: Gen.Inputs, root: Path): SnapshotStore =
    Pipeline.run(spark, in.sfDir, root.toString, corpusPath = Some(in.corpusPath))

  // ---------------------------------------------------------------- kg-build

  /** Turns a complete store into the state a crash leaves after the
    * first 4 of the 8 mention-bucket manifests are linked: the bucket
    * write job's data (all 8 buckets) stays, every later manifest and
    * every later data directory is gone. */
  private def crashAfterFourBuckets(store: SnapshotStore, root: Path): Unit = {
    val ms = store.manifests()
    val keep = ms.filter(_.stage == "mentions").sortBy(_.id).take(4)
    require(keep.map(_.id) == (1L to 4L), s"unexpected mention manifest ids ${keep.map(_.id)}")
    ms.filterNot(keep.contains).foreach(m => Files.delete(root.resolve("_snapshots").resolve(s"${m.id}.json")))
    val keepDirs = keep.map(m => Path.of(m.dir).getParent.toAbsolutePath.normalize).toSet
    val data = Files.list(root.resolve("data"))
    try data.iterator().asScala.toList
      .filterNot(d => keepDirs.contains(d.toAbsolutePath.normalize)).foreach(Fs.delete)
    finally data.close()
  }

  /** Each iteration: a fresh `Pipeline.run` (`call_s`) and `runAnalytics`
    * (`followup_s`). The second iteration and traced ones then apply the
    * crash above and time the resume to a complete store and a second,
    * no-op `Pipeline.run` over it. */
  private def build(c: Ctx): Result = {
    import c._
    val (in, setupS) = setup(d => Gen.write(spark, seed, sz.buildFiles, sz.buildDocsPerFile, d))
    note(in.describe(seed))
    val want = oracle(spark, in).localCheckpoint()
    val expected = want.count()
    loop { (i, traced) =>
      val root = path(s"store-$i")
      val tr = tracer(traced, i)
      logged(traced) { log =>
        for ((store, runS) <- t.call("Pipeline.run")(Stats.seconds(tr("Pipeline.run")(runPipeline(spark, in, root))))) {
          val rows = tripleRows(store)
          val pipeMarkers = liveMarkers(store)
          t.check(s"kg-build iteration $i committed triples are distinct")(rows == expected)
          if (i == 0) t.check("kg-build committed triples == Engine.run")(sameSet(triplesOf(spark, store), want))
          add("call_s", traced, runS)
          add("triples_per_s", traced, rows / runS)
          val before = store.manifests().map(_.id).max
          for ((_, anS) <- t.call("Pipeline.runAnalytics")(
                 Stats.seconds(tr("Pipeline.runAnalytics")(Pipeline.runAnalytics(spark, store))))) {
            add("followup_s", traced, anS)
            note(f"iteration $i Pipeline.run $runS%.3f s, runAnalytics $anS%.3f s")
            t.check(s"kg-build iteration $i analytics committed")(
              Seq("graph_degree", "graph_comention", "graph_pagerank")
                .forall(s => store.liveManifests().exists(_.stage == s)))
          }
          add("store_mb", traced, Fs.bytes(root) / MB)
          val built = log.map { l =>
            Drain(spark.sparkContext)
            pipelineLayers(c, l, store, root, tr.last("Pipeline.run"), in, Set.empty) ++
              analyticsLayers(spark, l, store, root, tr.last("Pipeline.runAnalytics"), before) ++
              storeProbes(spark, store, root, tr)
          }

          if (i == 1 || traced) {
            crashAfterFourBuckets(store, root)
            val crashed = store.markers()
            for ((_, resumeS) <- t.call("Pipeline.run (resume)")(
                   Stats.seconds(tr("Pipeline.run resume")(runPipeline(spark, in, root))))) {
              add("resume_s", traced, resumeS)
              t.check(s"kg-build iteration $i resumed live markers == uninterrupted")(liveMarkers(store) == pipeMarkers)
              t.check(s"kg-build iteration $i resumed triple count == uninterrupted")(tripleRows(store) == expected)
              if (get("resume_s").size + get("resume_s", traced = true).size == 1)
                t.check("kg-build resumed triples == Engine.run")(sameSet(triplesOf(spark, store), want))
              val complete = store.manifests()
              for ((_, noopS) <- t.call("Pipeline.run (no-op)")(
                     Stats.seconds(tr("Pipeline.run noop")(runPipeline(spark, in, root))))) {
                add("resume_noop_s", traced, noopS)
                t.check(s"kg-build iteration $i no-op resume adds no manifest")(store.manifests() == complete)
              }
              for (l <- log; b <- built) {
                Drain(spark.sparkContext)
                val r = pipelineLayers(c, l, store, root, tr.last("Pipeline.run resume"), in, crashed)
                val totals = sparkTotals(l, tr.spans.toSeq)
                // the same DAG in memory, without the store: the shape of
                // graft.Bench's headline, for the production-path gap
                val inMemoryS = Stats.seconds(
                  oracle(spark, in).write.format("noop").mode("overwrite").save())._2
                layers += b ++ r.filter(_._1.startsWith("resume.")) ++ totals ++ Map(
                  "resume.wall_s" -> resumeS,
                  "resume.noop_wall_s" -> get("resume_noop_s", traced = true).lastOption.getOrElse(0.0),
                  "pipeline.inmemory_s" -> inMemoryS)
              }
            }
          }
        }
      }
      spans ++= tr.spans
      Fs.delete(root)
    }
    result(Map("setup_s" -> setupS, "call_s" -> med("call_s"), "followup_s" -> med("followup_s"),
        "store_mb" -> med("store_mb")),
      Seq(f"build_triples_per_s=${med("triples_per_s")}%.1f triples/s (triples=$expected, warm iterations: ${math.max(1, get("call_s").size - 1)})",
        f"analytics_s=${med("followup_s")}%.4f s", f"store_mb=${med("store_mb")}%.3f MB",
        f"resume_s=${shown("resume_s")._1}%.4f s (n=${shown("resume_s")._2})",
        f"resume_noop_s=${shown("resume_noop_s")._1}%.4f s (n=${shown("resume_noop_s")._2})"))
  }

  // ---------------------------------------------------------- kg-incremental

  private def incremental(c: Ctx): Result = {
    import c._
    final case class Backlog(in: Gen.Inputs, gaz: Seq[(String, String)], anchor: DataFrame,
                             canon: DataFrame, canonRows: Long)
    val (b, setupS) = setup { d =>
      val in = Gen.write(spark, seed, sz.incrFiles, sz.incrDocsPerFile, d)
      val gaz = gazetteer(spark, in.sfDir)
      val surf = gaz.map(_._1)
      val canon = Engine.canonical(Stages.aliasEdgesLocal(spark, surf)).localCheckpoint()
      Backlog(in, gaz, Stages.anchorDictLocal(spark, surf).localCheckpoint(), canon, canon.count())
    }
    note(b.in.describe(seed))
    val schema = spark.read.parquet(b.in.corpusPath).schema
    val batchMs = mutable.ArrayBuffer[Double]()
    val want = oracle(spark, b.in).localCheckpoint()
    val expected = want.count()
    loop { (i, traced) =>
      val root = path(s"incr-$i")
      val store = SnapshotStore.forRoot(root.resolve("store").toString)
      val tr = tracer(traced, i)
      val progress = new ProgressLog
      if (traced) spark.streams.addListener(progress)
      logged(traced) { log =>
        val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(b.in.corpusPath)
        val drained = t.call("StreamOps.incrementalTriples") {
          val w = StreamOps.incrementalTriples(stream, b.gaz, b.anchor, Stages.scoreBoost, b.canon, store,
              canonRows = Some(b.canonRows))
            .option("checkpointLocation", root.resolve("checkpoint").toString)
          Stats.seconds(tr("StreamOps.incrementalTriples") {
            val q = w.start()
            try q.processAllAvailable()
            catch { case e: Throwable => q.stop(); throw e }
            q
          })
        }
        for ((q, drainS) <- drained) {
          q.stop()
          val batches = triggerMs(q.recentProgress.toSeq)
          t.check(s"kg-incremental iteration $i one batch per backlog file")(batches.size == b.in.files)
          if (!traced) batchMs ++= batches
          note(f"iteration $i drained ${batches.size} batches in $drainS%.2f s " +
            f"(batch p50 ${Stats.median(batches)}%.0f ms, first batch ${batches.headOption.getOrElse(0.0)}%.0f ms)")
          add("call_s", traced, Stats.median(batches) / 1000.0)
          add("drain_s", traced, drainS)
          // the consumer read is short, so it is timed ConsumerReads times
          for (k <- 0 until ConsumerReads;
               (n, readS) <- t.call("SnapshotStore.read")(
                 Stats.seconds(tr("SnapshotStore.read")(store.read(spark, stage = Some("triples")).distinct().count())))) {
            t.check(s"kg-incremental iteration $i read $k distinct triple count")(n == expected)
            if (i == 0 && k == 0) t.check("kg-incremental accumulated DISTINCT triples == Engine.run")(
              sameSet(triplesOf(spark, store).distinct(), want))
            add("followup_s", traced, readS)
          }
          add("store_mb", traced, Fs.bytes(root.resolve("store")) / MB)
          log.foreach { l =>
            Drain(spark.sparkContext)
            layers += incrLayers(l, store, root.resolve("store"), tr, progress.events.toSeq) ++
              sparkTotals(l, tr.spans.toSeq) ++ storeProbes(spark, store, root.resolve("store"), tr)
          }
        }
      }
      if (traced) spark.streams.removeListener(progress)
      spans ++= tr.spans
      Fs.delete(root)
    }
    val docs = b.in.docs.toDouble
    result(Map("setup_s" -> setupS, "call_s" -> med("call_s"), "followup_s" -> med("followup_s"),
        "store_mb" -> med("store_mb")),
      Seq(f"incr_batch_p50_ms=${Stats.median(batchMs.toSeq)}%.2f ms (n=${batchMs.size})",
        f"incr_batch_p90_ms=${Stats.quantile(batchMs.toSeq, 0.9)}%.2f ms (n=${batchMs.size})",
        f"incr_docs_per_s=${docs / med("drain_s")}%.1f docs/s (backlog drained in ${med("drain_s")}%.2f s)",
        f"incr_read_s=${med("followup_s")}%.4f s", f"store_mb=${med("store_mb")}%.3f MB",
        f"accumulated distinct triples=$expected"))
  }

  /** Trigger durations of the batches that read input. */
  private def triggerMs(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.filter(_.numInputRows > 0).map(p => p.durationMs.get("triggerExecution").doubleValue)

  // ------------------------------------------------------------- per layer

  private def commitsSince(store: SnapshotStore, root: Path, afterId: Long): Seq[Commit] =
    store.manifests().filter(_.id > afterId).map { m =>
      Commit(m.stage, m.rows, m.wallMs, m.metrics,
        Files.getLastModifiedTime(root.resolve("_snapshots").resolve(s"${m.id}.json")).toMillis)
    }

  /** Stage costs of one traced `Pipeline.run` (see [[Attribution.split]]):
    * the first query `Pipeline.run` executes is the gazetteer collect. */
  private def pipelineLayers(c: Ctx, log: JobLog, store: SnapshotStore, root: Path, span: Span,
                             in: Gen.Inputs, markersBefore: Set[String]): Map[String, Double] = {
    val jobs = log.within(span.startMs, span.endMs)
    val commits = commitsSince(store, root, 0L)
      .filter(c => c.landedMs >= span.startMs && c.landedMs <= span.endMs)
    val (stages, unattributed) = Attribution.split(span.startMs, span.endMs, jobs, commits, Some("gazetteer"))
    def st(n: String) = stages.find(_.name == n).getOrElse(StageCost(n, 0L, Nil))
    def rows(stage: String) = commits.filter(_.stage == stage).map(_.rows).sum.toDouble
    val newMentions = commits.filter(_.stage == "mentions")
    val scanned = st("mentions").recordsRead.toDouble
    val kept = newMentions.flatMap(m => m.metrics.get("bucket")).map(b => in.buckets.getOrElse(b.toInt, (0L, 0L))._1).sum.toDouble
    val linksRows = rows("links")
    val exploded = if (linksRows == 0) 0.0 else
      store.read(c.spark, stage = Some("links"))
        .select(sum(lit(2) + size(coalesce(col(Engine.AdjMedia), array().cast("array<string>")))))
        .head().getLong(0).toDouble
    Map(
      "gazetteer.wall_s" -> st("gazetteer").wallS, "gazetteer.task_s" -> st("gazetteer").taskS,
      "mentions.wall_s" -> st("mentions").wallS, "mentions.task_s" -> st("mentions").taskS,
      "mentions.gc_s" -> st("mentions").gcS,
      "mentions.spans_in" -> newMentions.flatMap(_.metrics.get("bucket")).map(b => in.buckets.getOrElse(b.toInt, (0L, 0L))._2).sum.toDouble,
      "mentions.rows_out" -> rows("mentions"), "mentions.task_skew" -> st("mentions").skew,
      "links.wall_s" -> st("links").wallS,
      "links.rows_in" -> (if (linksRows == 0) 0.0
        else store.liveManifests().filter(_.stage == "mentions").map(_.rows).sum.toDouble),
      "links.rows_out" -> linksRows, "links.shuffle_write_mb" -> st("links").shuffleMb,
      "links.spill_mb" -> st("links").spillMb, "links.task_skew" -> st("links").skew,
      "canonical.wall_s" -> st("canonical").wallS, "canonical.jobs" -> st("canonical").jobs.size.toDouble,
      "triples.wall_s" -> st("triples").wallS, "triples.rows_out" -> rows("triples"),
      "triples.dedup_ratio" -> (if (exploded == 0) 0.0 else rows("triples") / exploded),
      "triples.shuffle_write_mb" -> st("triples").shuffleMb, "triples.task_skew" -> st("triples").skew,
      "store.commit.wall_s" -> commits.map(_.wallMs).sum / 1000.0,
      "store.commit.count" -> commits.size.toDouble,
      "store.commit_overhead_s" -> Attribution.commitOverheadS(jobs, commits),
      "pipeline.jobs" -> jobs.size.toDouble, "pipeline.unattributed_s" -> unattributed,
      "resume.scan_rows_read" -> scanned,
      "resume.scan_keep_ratio" -> (if (scanned == 0) 0.0 else kept / scanned),
      "resume.markers_hit_frac" -> markersBefore.size.toDouble / PipelineMarkers)
  }

  private def analyticsLayers(spark: SparkSession, log: JobLog, store: SnapshotStore, root: Path,
                              span: Span, afterId: Long): Map[String, Double] = {
    val jobs = log.within(span.startMs, span.endMs)
    val (stages, _) = Attribution.split(span.startMs, span.endMs, jobs,
      commitsSince(store, root, afterId), None)
    def st(n: String) = stages.find(_.name == n).getOrElse(StageCost(n, 0L, Nil))
    Map("analytics.degree.wall_s" -> st("graph_degree").wallS,
      "analytics.comention.wall_s" -> st("graph_comention").wallS,
      "analytics.pagerank.wall_s" -> st("graph_pagerank").wallS,
      "analytics.pagerank.jobs" -> st("graph_pagerank").jobs.size.toDouble,
      "analytics.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / MB,
      "analytics.spill_mb" -> jobs.map(_.spillBytes).sum / MB)
  }

  private def incrLayers(log: JobLog, store: SnapshotStore, root: Path, tr: Tracer,
                         ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val span = tr.last("StreamOps.incrementalTriples")
    val commits = commitsSince(store, root, 0L)
    val batches = ps.filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(batches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val trig = triggerMs(batches)
    val tenth = math.max(1, trig.size / 10)
    Map("incr.batches" -> batches.size.toDouble,
      "incr.batch_p50_ms" -> Stats.median(trig), "incr.batch_p90_ms" -> Stats.quantile(trig, 0.9),
      "incr.add_batch_ms" -> dur("addBatch"), "incr.query_planning_ms" -> dur("queryPlanning"),
      "incr.wal_commit_ms" -> dur("walCommit"),
      "incr.rows_per_batch" -> Stats.median(batches.map(_.numInputRows.toDouble)),
      "incr.latency_growth" -> Stats.median(trig.takeRight(tenth)) / Stats.median(trig.take(tenth)),
      "triples.rows_out" -> commits.map(_.rows).sum.toDouble,
      "store.commit.wall_s" -> commits.map(_.wallMs).sum / 1000.0,
      "store.commit.count" -> commits.size.toDouble,
      "store.commit_overhead_s" -> Attribution.commitOverheadS(
        log.within(span.startMs, span.endMs), commits))
  }

  /** Totals over every job inside the iteration's timed calls. */
  private def sparkTotals(log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    val jobs = spans.filter(s => s.parent == 0 && !s.name.startsWith("probe "))
      .flatMap(s => log.within(s.startMs, s.endMs)).distinct
    Map("spark.jobs" -> jobs.size.toDouble, "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_s" -> jobs.map(_.runMs).sum / 1000.0,
      "spark.scheduler_delay_s" -> jobs.map(_.schedMs).sum / 1000.0,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> jobs.map(_.shuffleWriteBytes).sum / MB,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / MB,
      "store.write_mb" -> jobs.map(_.bytesWritten).sum / MB)
  }

  /** The store's metadata calls, timed from outside (median of 5). */
  private def storeProbes(spark: SparkSession, store: SnapshotStore, root: Path, tr: Tracer): Map[String, Double] = {
    def ms(name: String)(body: => Any): Double =
      Stats.median((1 to 5).map(_ => Stats.seconds(tr(name)(body))._2 * 1000.0))
    Map("store.manifests_ms" -> ms("probe SnapshotStore.manifests")(store.manifests()),
      "store.markers_ms" -> ms("probe SnapshotStore.markers")(store.markers()),
      "store.read_plan_ms" -> ms("probe SnapshotStore.read")(store.read(spark, stage = Some("triples"))),
      "store.snapshots" -> store.manifests().size.toDouble,
      "store.files" -> Fs.files(root.resolve("data"), ".parquet").size.toDouble)
  }
}
