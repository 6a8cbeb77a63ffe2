package etlbench

import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs (and
  * fingerprint); the engine only ever sees what these produce. */
object Inputs {

  def digest(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .take(12).map(b => f"${b & 0xff}%02x").mkString

  /** A JSON fixture as nested Scala maps, lists and numbers. */
  def json(path: String): Map[String, Any] = {
    import org.json4s._
    def conv(v: JValue): Any = v match {
      case JObject(fs) => fs.map { case (k, x) => k -> conv(x) }.toMap
      case JArray(xs) => xs.map(conv)
      case JString(s) => s
      case JInt(i) => i.toLong
      case JLong(i) => i
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JBool(b) => b
      case _ => null
    }
    conv(org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)))
      .asInstanceOf[Map[String, Any]]
  }

  // ---- text ---------------------------------------------------------

  val contentWords: IndexedSeq[String] = IndexedSeq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "vector", "scan", "query", "agg", "table", "hash", "slow",
    "filter", "customer", "stream", "key", "group", "window", "join", "data", "row", "big", "merge",
    "shard", "index", "token", "cache")
  val stopWords: IndexedSeq[String] = TextOps.enStopwords.toIndexedSeq
  val germanWords: IndexedSeq[String] = IndexedSeq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")

  /** An English document that passes the curation gates with margin:
    * at least 15% stopwords (English by language id, quality ≥ 0.6) and
    * no bigram repeated often enough to trip the repetition gate. */
  def englishDoc(rnd: Random, minLen: Int = 45, maxLen: Int = 90): Array[String] = {
    var doc: Array[String] = null
    while (doc == null || !passesRepetitionGate(doc) || doc.count(stopWords.contains) < 0.15 * doc.length) {
      val n = minLen + rnd.nextInt(maxLen - minLen + 1)
      doc = Array.fill(n)(if (rnd.nextDouble() < 0.25) stopWords(rnd.nextInt(stopWords.size))
        else contentWords(rnd.nextInt(contentWords.size)))
    }
    doc
  }

  /** The curation pipeline's bigram repetition rule: the most repeated
    * bigram occurs at most 6% as often as there are bigrams. */
  def passesRepetitionGate(toks: Array[String]): Boolean = {
    val counts = toks.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).map(_._2.size)
    counts.max.toLong * 50 <= (toks.length - 1).toLong * 3
  }

  /** The same document with `k` tokens at distinct positions replaced by
    * a different content word: a near duplicate at word-shingle Jaccard
    * ≈ 1 − 6k/len. */
  def perturb(rnd: Random, doc: Array[String], k: Int): Array[String] = {
    val out = doc.clone()
    for (i <- rnd.shuffle(doc.indices.toList).take(k)) {
      var w = out(i)
      while (w == out(i)) w = contentWords(rnd.nextInt(contentWords.size))
      out(i) = w
    }
    out
  }

  def gaussianUnit(rnd: Random, dim: Int): Array[Double] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // ---- corpus_curation ---------------------------------------------

  final case class Doc(text: String, lang: String, source: String, vec: Array[Float])

  /** A curation corpus of `n` documents:
    *  - ~8% that curation must drop (German, too short, or repetitive),
    *    all with source `drop`;
    *  - planted near-duplicate clusters of 2–5 documents, ~12% of the
    *    corpus, each with its own source `c<k>` and near-identical
    *    embeddings: curation must keep exactly one of each;
    *  - distinct English documents with sources `src0..src19`, whose
    *    random 256-dimensional embeddings sit far below the semantic
    *    closure's 0.4 cosine threshold.
    * Document order (and so doc ids) is a seeded shuffle. */
  def corpus(seed: Long, n: Int): (Seq[Doc], Map[String, Long]) = {
    val rnd = new Random(seed)
    val dim = 256
    def vec(v: Array[Double]) = v.map(_.toFloat)
    val docs = Seq.newBuilder[Doc]
    val nDrop = n * 8 / 100
    for (i <- 0 until nDrop) {
      val toks = i % 3 match {
        case 0 => Array.fill(40 + rnd.nextInt(30))(
          if (rnd.nextDouble() < 0.3) germanWords(rnd.nextInt(germanWords.size))
          else contentWords(rnd.nextInt(contentWords.size)))
        case 1 => englishDoc(rnd, 10, 25)
        case _ =>
          val pair = Array("the", contentWords(rnd.nextInt(contentWords.size)))
          Array.fill(20 + rnd.nextInt(10))(pair).flatten
      }
      docs += Doc(toks.mkString(" "), "xx", "drop", vec(gaussianUnit(rnd, dim)))
    }
    var planted = 0
    var cluster = 0
    while (planted < n * 12 / 100) {
      val size = 2 + rnd.nextInt(4)
      val base = englishDoc(rnd)
      val center = gaussianUnit(rnd, dim)
      for (j <- 0 until size) {
        val toks = if (j == 0) base else perturb(rnd, base, 1)
        val v = center.map(_ + 0.02 * rnd.nextGaussian())
        docs += Doc(toks.mkString(" "), "en", s"c$cluster", vec(v))
      }
      planted += size
      cluster += 1
    }
    val expected = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (c <- 0 until cluster) expected(s"c$c") = 1L
    for (i <- 0 until n - nDrop - planted) {
      val src = s"src${i % 20}"
      docs += Doc(englishDoc(rnd).mkString(" "), "en", src, vec(gaussianUnit(rnd, dim)))
      expected(src) += 1
    }
    (rnd.shuffle(docs.result()), expected.toMap)
  }

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))

  /** Write `corpus(seed, n)` as `documents.parquet` and
    * `embeddings.parquet` under `dir` unless a complete copy is there;
    * returns (fingerprint, expected survivors per source). */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, n: Int): (String, Map[String, Long]) = {
    val (docs, expected) = corpus(seed, n)
    val fp = digest(docs.map(_.text).mkString("\n"))
    val ready = Paths.get(dir, "_READY")
    if (!Files.exists(ready) || new String(Files.readAllBytes(ready), StandardCharsets.UTF_8) != fp) {
      val rows = docs.zipWithIndex.map { case (d, i) =>
        Row(i.toLong, d.text, d.lang, d.source, d.text.length.toLong) }
      val embs = docs.zipWithIndex.map { case (d, i) => Row(i.toLong, d.vec.toSeq, 0) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), docSchema)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      spark.createDataFrame(spark.sparkContext.parallelize(embs, 4), embSchema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      Files.write(ready, fp.getBytes(StandardCharsets.UTF_8))
    }
    (fp, expected)
  }

  // ---- index_churn --------------------------------------------------

  /** Clustered unit-scale vectors: one of `centers` directions plus
    * 0.15 Gaussian noise per coordinate. */
  def clustered(rnd: Random, centers: IndexedSeq[Array[Double]]): Array[Double] = {
    val c = centers(rnd.nextInt(centers.size))
    c.map(_ + 0.15 * rnd.nextGaussian())
  }

  def docsFrame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  def vecsFrame(spark: SparkSession, rows: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
  }
}
