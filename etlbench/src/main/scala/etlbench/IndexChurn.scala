package etlbench

import graft.ml.{AnnSearch, IvfIndex}
import graft.text.IncrementalDedup
import graft.util.TableIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

/** Reads beside writes on two persisted, generation-addressed indexes.
  * An ingest puts a seeded shard into the text dedup index
  * (`processShard`, then `updateIndexInPlace` with the survivors) and
  * into the embedding index (`appendInPlace`); a search is one request
  * against the embedding root. One round of the loop ingests a shard
  * with a search after it, applies a seeded takedown (`deleteInPlace`
  * on both), compacts both roots into new generations
  * (`compactPublish`), vacuums the superseded ones, and serves
  * [[searchesAfterCompaction]] more searches. Most searches thus read a
  * freshly compacted index, so their median does not jump between
  * index states. */
final class IndexChurn extends Workload {
  val name = "index_churn"
  val latencyKind = "search"

  val baseDocs = 300
  val shardDocs = 60
  val searchesAfterCompaction = 6
  val takedownSize = 10
  val dim = 64
  val k = 10
  val shortlist = 50

  private var seed = 0L
  private var work = ""
  private var baseDir = ""
  private var base: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var centers: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var baseVecs: IndexedSeq[(Long, Array[Double])] = IndexedSeq.empty

  // run state, reset by setup
  private var textRoot = ""
  private var vecRoot = ""
  private var nprobe = 1
  private var cycle = 0
  private var script: List[Char] = Nil
  private val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val deleted = mutable.Set.empty[Long]
  private var rnd = new Random(0)
  private var kept = 0L
  private var processed = 0L
  private var bytesRewritten = 0L
  private val recall = mutable.ArrayBuffer.empty[Double]

  /** Shard `c`'s documents and vectors: 70% fresh documents, 15% exact
    * copies and 15% one-word edits of base documents outside the
    * takedown pool. Shard 0 is the warm-up shard. */
  private def shard(c: Int): (Seq[(Long, String)], Seq[(Long, Array[Double])], Set[Long]) = {
    val r = new Random(seed * 7919L + c)
    val first = 1000000L + c.toLong * shardDocs
    val exact = mutable.Set.empty[Long]
    val docs = (0 until shardDocs).map { i =>
      val id = first + i
      val u = r.nextDouble()
      val text =
        if (u < 0.70) Inputs.englishDoc(r).mkString(" ")
        else {
          val src = base(dupSource(r))._2
          if (u < 0.85) { exact += id; src }
          else Inputs.perturb(r, src.split(" "), 1).mkString(" ")
        }
      id -> text
    }
    (docs, docs.map { case (id, _) => id -> Inputs.clustered(r, centers) }, exact.toSet)
  }

  /** Base ids ≡ 1 (mod 7) form the takedown pool; duplicates copy only
    * documents outside it, so a takedown never changes a verdict. */
  private def inPool(id: Long): Boolean = id % 7 == 1
  private def dupSource(r: Random): Int = {
    var i = r.nextInt(baseDocs)
    while (inPool(i.toLong)) i = r.nextInt(baseDocs)
    i
  }

  /** The base corpus and its first-generation indexes are the same on
    * every seed (built once per checkout); the seed picks the shards,
    * the search requests and the takedowns. */
  def inputs(spark: => SparkSession, seed: Long, cache: String): String = {
    this.seed = seed
    work = cache.stripSuffix("/inputs")
    val r = new Random(0)
    centers = IndexedSeq.fill(16)(Inputs.gaussianUnit(r, dim))
    base = (0 until baseDocs).map(i => i.toLong -> Inputs.englishDoc(r).mkString(" "))
    baseVecs = base.map { case (id, _) => id -> Inputs.clustered(r, centers) }
    baseDir = s"$cache/churn-base-$baseDocs"
    val baseFp = Inputs.digest(base.map(_._2).mkString("\n"))
    val ready = Paths.get(baseDir, "_READY")
    if (!Files.exists(ready) || Files.readString(ready) != baseFp || !Files.isDirectory(Paths.get(baseDir, "gen1"))) {
      deleteTree(Paths.get(baseDir))
      buildFirstGeneration(spark, s"$baseDir/gen1")
      Files.writeString(ready, baseFp)
    }
    Inputs.digest(baseFp + shard(1)._1.mkString + new Random(seed + 17).nextLong())
  }

  /** The persisted state the workload starts from: both indexes built
    * over the base corpus into generation `g0` and published. */
  private def buildFirstGeneration(spark: SparkSession, dir: String): Unit = {
    val docs = Inputs.docsFrame(spark, base)
    val vecs = Inputs.vecsFrame(spark, baseVecs)
    IncrementalDedup.buildIndex(docs, "doc_id", "text", s"$dir/text/g0")
    TableIndex.publishGeneration(spark, s"$dir/text", "g0")
    val centroids = AnnSearch.kmeansCentroidsExact(vecs, 50, iters = 2)
    val book = AnnSearch.pqBook(vecs, m = 16, stride = 10)
    IvfIndex.build(vecs, centroids, book, s"$dir/vec/g0", storeFloats = true)
    TableIndex.publishGeneration(spark, s"$dir/vec", "g0")
  }

  /** Fresh roots restored from the first generation, both opened. */
  def setup(spark: SparkSession, t: Tracer): Unit = {
    val roots = Paths.get(work, "indexes")
    deleteTree(roots)
    for (p <- walk(Paths.get(baseDir, "gen1"))) {
      val to = roots.resolve(Paths.get(baseDir, "gen1").relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    textRoot = s"$roots/text"
    vecRoot = s"$roots/vec"
    require(TableIndex.resolveGeneration(spark, textRoot).nonEmpty && TableIndex.resolveGeneration(spark, vecRoot).nonEmpty,
      "first-generation indexes did not open")
    nprobe = math.ceil(0.2 * spark.read.parquet(s"$vecRoot/g0/centroids.parquet").count()).toInt
    cycle = 0
    script = Nil
    live.clear()
    live ++= baseVecs
    deleted.clear()
    rnd = new Random(seed + 17)
    kept = 0
    processed = 0
    bytesRewritten = 0
    recall.clear()
  }

  /** Ingest the warm-up shard, which the timed phase never sends, and
    * serve one search with a query id it never uses. */
  def warmup(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val warm = new Ledger
    ingest(spark, t, warm, 0)
    l.adopt(warm)
    val q = Inputs.vecsFrame(spark, Seq(-1L -> Inputs.clustered(new Random(seed - 1), centers)))
    IvfIndex.search(spark, vecRoot, q, k, nprobe, shortlist).collect()
  }

  /** One op of the round: ingest (I), search (S), takedown (T), compact (C). */
  def step(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    if (script.isEmpty) script = ("IS" + "TC" + "S" * searchesAfterCompaction).toList
    script.head match {
      case 'I' => cycle += 1; ingest(spark, t, l, cycle)
      case 'S' => search(spark, t, l)
      case 'T' => takedown(spark, t, l)
      case 'C' => compact(spark, t, l)
    }
    script = script.tail
  }

  def enough(l: Ledger): Boolean = script.isEmpty && l.count("compact") >= 1

  private def ingest(spark: SparkSession, t: Tracer, l: Ledger, c: Int): Unit = {
    val (docs, vecs, exact) = shard(c)
    val docDf = Inputs.docsFrame(spark, docs)
    val vecDf = Inputs.vecsFrame(spark, vecs)
    l.run("ingest") {
      val decisions = t.span("op") {
        val d = t.span("text.IncrementalDedup.processShard")(
          IncrementalDedup.processShard(spark, textRoot, docDf, "doc_id", "text", tau = 0.8).collect())
        val keep = d.filter(_.getAs[Boolean]("kept")).map(_.getAs[Long]("id"))
        t.span("text.IncrementalDedup.updateIndexInPlace")(IncrementalDedup.updateIndexInPlace(spark, textRoot,
          docDf.where(col("doc_id").isInCollection(keep)), "doc_id", "text"))
        t.span("ml.IvfIndex.appendInPlace")(IvfIndex.appendInPlace(spark, vecRoot, vecDf))
        d
      }
      l.pause {
        val verdict = decisions.map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("kept")).toMap
        l.check(verdict.size == docs.size, s"shard $c: ${verdict.size} decisions for ${docs.size} documents")
        l.check(exact.forall(id => !verdict.getOrElse(id, true)), s"shard $c: an exact copy was kept")
        kept += verdict.values.count(identity)
        processed += verdict.size
        live ++= vecs
      }
      docs.size.toLong
    }
  }

  private def takedown(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val pool = live.keys.filter(id => id < baseDocs && inPool(id)).toIndexedSeq
    val ids = rnd.shuffle(pool).take(takedownSize)
    val df = { import spark.implicits._; ids.toDF("id") }
    l.run("takedown") {
      t.span("op") {
        t.span("ml.IvfIndex.deleteInPlace")(IvfIndex.deleteInPlace(spark, vecRoot, df))
        t.span("text.IncrementalDedup.deleteInPlace")(IncrementalDedup.deleteInPlace(spark, textRoot, df))
      }
      deleted ++= ids
      live --= ids
      0L
    }
  }

  private def compact(spark: SparkSession, t: Tracer, l: Ledger): Unit = l.run("compact") {
    t.span("op") {
      val g1 = t.span("ml.IvfIndex.compactPublish")(IvfIndex.compactPublish(spark, vecRoot))
      val g2 = t.span("text.IncrementalDedup.compactPublish")(IncrementalDedup.compactPublish(spark, textRoot))
      bytesRewritten += treeBytes(Paths.get(g1)) + treeBytes(Paths.get(g2))
      t.span("util.TableIndex.vacuumGenerations") {
        TableIndex.vacuumGenerations(spark, vecRoot, graceMs = 0L)
        TableIndex.vacuumGenerations(spark, textRoot, graceMs = 0L)
      }
    }
    0L
  }

  /** One request: a live vector as its own query (it must come back at
    * rank 1 with similarity 1.0) or a fresh clustered vector. */
  private def search(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val self = rnd.nextBoolean()
    val ids = live.keys.toIndexedSeq
    val target = ids(rnd.nextInt(ids.size))
    val vec = if (self) live(target) else Inputs.clustered(rnd, centers)
    val q = Inputs.vecsFrame(spark, Seq(-2L -> vec))
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    l.run("search") {
      rows = t.span("op")(t.span("ml.IvfIndex.search")(
        IvfIndex.search(spark, vecRoot, q, k, nprobe, shortlist).collect()))
      l.pause {
        val got = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("n_id"))
        l.check(got.length == k, s"search returned ${got.length} of $k neighbours")
        l.check(!got.exists(deleted.contains), "search returned a taken-down id")
        if (self) {
          val top = rows.find(_.getAs[Long]("rank") == 1L)
          l.check(top.exists(r => r.getAs[Long]("n_id") == target && r.getAs[Double]("sim") == 1.0),
            s"self-query for $target returned ${top.map(r => (r.getAs[Long]("n_id"), r.getAs[Double]("sim")))} at rank 1")
        }
        if (t.enabled) {
          val corpus = Inputs.vecsFrame(spark, live.toSeq)
          val truth = AnnSearch.bfTopK(q, corpus, k).collect().map(_.getAs[Long]("n_id")).toSet
          recall += got.count(truth.contains).toDouble / k
        }
      }
      1L
    }
  }

  def finish(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val findings = IncrementalDedup.fsckIndex(spark, textRoot) ++ IvfIndex.fsckIndex(spark, vecRoot)
    l.check(findings.isEmpty, s"fsck findings at run end: ${findings.take(5)}")
  }

  def throughput(l: Ledger): Double = l.items("ingest") / l.seconds("ingest", "takedown", "compact")

  private def indexBytes: Long = treeBytes(Paths.get(textRoot)) + treeBytes(Paths.get(vecRoot))

  def named(l: Ledger): Seq[(String, Double, String)] = {
    val s = l.latencies("search").map(_ * 1e3)
    Seq(("ingest_docs_per_s", throughput(l), "docs/s"),
      ("search_p50_ms", Stats.median(s), "ms"),
      ("search_requests", s.size.toDouble, "count"),
      ("index_bytes_per_doc", indexBytes.toDouble / live.size, "bytes"))
  }

  def layers(t: Tracer, l: Ledger): Map[String, Double] = {
    val files = Seq(textRoot, vecRoot).map(r => regularFiles(Paths.get(r)).size).sum
    (Seq("processShard", "updateIndexInPlace", "compactPublish").flatMap(f =>
      Layers.named(t, s"text.IncrementalDedup.$f").filter(kv => kv._1.endsWith(".s") || kv._1.endsWith(".jobs"))) ++
      Seq("appendInPlace", "deleteInPlace", "compactPublish").flatMap(f =>
        Layers.named(t, s"ml.IvfIndex.$f").filter(kv => kv._1.endsWith(".s") || kv._1.endsWith(".jobs"))) ++
      Layers.named(t, "ml.IvfIndex.search").filter(kv => !kv._1.endsWith(".task_s") && !kv._1.endsWith(".shuffle_bytes")) ++
      Layers.named(t, "util.TableIndex.vacuumGenerations").filter(_._1.endsWith(".s")) ++
      Seq("ml.IvfIndex.search.recall_at_10" -> recall.sum / recall.size,
        "text.IncrementalDedup.processShard.kept_frac" -> kept.toDouble / processed,
        "util.TableIndex.files" -> files.toDouble,
        "util.TableIndex.bytes_rewritten" -> bytesRewritten.toDouble) ++
      Layers.engine(t, "op")).toMap
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
    }

  private def regularFiles(p: Path): Seq[Path] = walk(p).filter(Files.isRegularFile(_))

  private def treeBytes(p: Path): Long = regularFiles(p).map(Files.size).sum

  private def deleteTree(p: Path): Unit = walk(p).reverse.foreach(Files.delete)
}
