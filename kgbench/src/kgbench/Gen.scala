package kgbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.model.{Doc, Span}

/** The one seeded input generator of all three workloads, shaped per
  * FIXTURES.md §2: 1–12 spans per doc, media ratio 0.2, text words drawn
  * by Zipf(s = 1.2) from a seeded pseudo-word vocabulary and mixed with
  * short filler words, plus light case and punctuation noise. Each doc
  * is a pure function of (seed, doc_id), so the bytes do not depend on
  * partitioning. The flat `documents` table (the gazetteer's source) is
  * the space-joined text spans of the same docs. */
object Gen {
  val VocabSize = 400
  val ZipfS = 1.2
  val MediaPct = 20
  val VocabPct = 30
  private val Fillers =
    Array("a", "an", "the", "of", "in", "on", "to", "and", "for", "by", "at", "is", "was", "it", "as", "or")

  final case class Dict(vocab: Array[String], cdf: Array[Double])

  /** The word of Zipf rank k has 4 + k % 6 letters whatever the seed,
    * so seeds change spellings but not text volume or the length-derived
    * coarse types and alias chains. */
  def dict(seed: Long): Dict = {
    val r = new SplittableRandom(seed)
    val words = scala.collection.mutable.LinkedHashSet[String]()
    while (words.size < VocabSize)
      words += Iterator.fill(4 + words.size % 6)(('a' + r.nextInt(26)).toChar).mkString
    val w = (1 to VocabSize).map(k => math.pow(k.toDouble, -ZipfS))
    Dict(words.toArray, w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray)
  }

  private def word(r: SplittableRandom, d: Dict): String = {
    val i = java.util.Arrays.binarySearch(d.cdf, r.nextDouble())
    d.vocab(math.min(if (i >= 0) i else -i - 1, d.vocab.length - 1))
  }

  private def token(r: SplittableRandom, d: Dict): String =
    if (r.nextInt(100) >= VocabPct) Fillers(r.nextInt(Fillers.length))
    else {
      val w = word(r, d)
      r.nextInt(100) match {
        case x if x < 3 => w.capitalize
        case x if x < 6 => w + ","
        case _ => w
      }
    }

  def doc(seed: Long, id: Long, d: Dict): Doc = {
    val r = new SplittableRandom(id * 0x9E3779B97F4A7C15L + seed)
    val spans = (0 until 1 + r.nextInt(12)).map { j =>
      if (r.nextInt(100) < MediaPct) {
        val kind = if (r.nextInt(4) == 0) "audio" else "image"
        Span(kind, s"figure ${word(r, d)}", s"media://$kind/$id/$j", j)
      } else Span("text", Iterator.fill(6 + r.nextInt(25))(token(r, d)).mkString(" "), "", j)
    }
    Doc(id.toString, spans)
  }

  /** What a workload reads: `corpusPath` is the nested corpus (one
    * parquet file per part, so it doubles as a streaming backlog),
    * `sfDir` holds `documents.parquet`. */
  final case class Inputs(sfDir: String, corpusPath: String, files: Int, docs: Long,
                          spans: Long, textSpans: Long, buckets: Map[Int, (Long, Long)],
                          hash: Long) {
    def describe(seed: Long): String =
      f"input seed=$seed docs=$docs spans=$spans text_spans=$textSpans files=$files hash=$hash%016x"
  }

  /** Writes docs [0, files × docsPerFile) of `seed` under `dir`, one
    * corpus file per `docsPerFile` docs, and returns their counts and
    * an order-independent content hash. */
  def write(spark: SparkSession, seed: Long, files: Int, docsPerFile: Int, dir: Path): Inputs = {
    import spark.implicits._
    val d = dict(seed)
    val corpusPath = dir.resolve("corpus").toString
    val sfDir = dir.resolve("sf").toString
    val docs = spark.range(0L, files.toLong, 1L, files)
      .flatMap(f => (0 until docsPerFile).iterator.map(k => doc(seed, f * docsPerFile + k, d)))
    docs.write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    corpus.select(col("doc_id").cast("long").as("doc_id"),
        array_join(transform(filter(col("spans"), s => s.getField("kind") === "text"),
          s => s.getField("text")), " ").as("text"))
      .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("kgbench").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(s"$sfDir/documents.parquet")
    val perBucket = corpus
      .select(pmod(xxhash64(col("doc_id")), lit(Pipeline.NumBuckets)).cast("int").as("b"),
        size(col("spans")).as("n"),
        size(filter(col("spans"), s => s.getField("kind") === "text")).as("t"),
        xxhash64(col("doc_id"), col("spans")).as("h"))
      .groupBy(col("b"))
      .agg(count(lit(1)), sum(col("n")), sum(col("t")), bit_xor(col("h")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    Inputs(sfDir, corpusPath, Fs.files(Path.of(corpusPath), ".parquet").size, perBucket.map(_._2).sum, perBucket.map(_._3).sum,
      perBucket.map(_._4).sum, perBucket.map(p => p._1 -> (p._2, p._4)).toMap,
      perBucket.map(_._5).foldLeft(0L)(_ ^ _))
  }
}
