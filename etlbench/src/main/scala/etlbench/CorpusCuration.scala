package etlbench

import graft.GraftSession
import org.apache.spark.sql.{Row, SparkSession}

/** The production curation capstone (`corpus_pipeline_v6`: curation →
  * LSH closure → semantic closure → span removal → BPE learn and
  * `encodeIds` → packing → per-source rollup) over a seeded corpus with
  * planted near-duplicate clusters. One op is one full pipeline pass.
  *
  * The warm-up pass reads a byte-identical copy of the same seed's
  * corpus from another directory: nothing keyed by path carries over to
  * the timed pass, and the two passes share a seed, so their rollups
  * must be identical. */
final class CorpusCuration extends Workload {
  val name = "corpus_curation"
  val latencyKind = "pass"

  val docs = 1000

  private var dir = ""
  private var warmDir = ""
  private var expected: Map[String, Long] = Map.empty
  private var rollups = Seq.empty[Seq[Row]]

  def inputs(spark: => SparkSession, seed: Long, cache: String): String = {
    dir = s"$cache/corpus-$seed-$docs"
    warmDir = s"$cache/corpus-$seed-$docs-copy"
    val (fp, exp) = Inputs.writeCorpus(spark, dir, seed, docs)
    Inputs.writeCorpus(spark, warmDir, seed, docs)
    expected = exp
    fp
  }

  def setup(spark: SparkSession, t: Tracer): Unit = rollups = Nil

  def warmup(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val warm = new Ledger
    pass(spark, t, warm, warmDir)
    l.adopt(warm)
  }

  def step(spark: SparkSession, t: Tracer, l: Ledger): Unit = pass(spark, t, l, dir)

  private def pass(spark: SparkSession, t: Tracer, l: Ledger, from: String): Unit = {
    var rows: Seq[Row] = Nil
    l.run("pass") {
      t.span("op")(t.span("QueriesText.corpus_pipeline_v6") {
        rows = GraftSession.query("corpus_pipeline_v6")(spark, from).collect().toSeq
      })
      l.pause {
        val got = rows.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs")).toMap
        val wrong = (got.keySet ++ expected.keySet).filter(s => got.get(s) != expected.get(s))
        l.check(wrong.isEmpty, s"survivors per source differ from the planted layout for " +
          wrong.toSeq.sorted.take(5).map(s => s"$s: ${got.get(s)} vs ${expected.get(s)}").mkString(", "))
        val sorted = rows.sortBy(_.getAs[String]("source"))
        l.check(rollups.forall(_ == sorted), "rollup differs from an earlier pass over the same corpus")
        rollups :+= sorted
      }
      docs.toLong
    }
  }

  def enough(l: Ledger): Boolean = l.count("pass") >= 1

  def finish(spark: SparkSession, t: Tracer, l: Ledger): Unit = ()

  def throughput(l: Ledger): Double = l.items("pass") / l.seconds("pass")

  def named(l: Ledger): Seq[(String, Double, String)] = Seq(
    ("docs_per_s", throughput(l), "docs/s"),
    ("pass_p50_s", Stats.median(l.latencies("pass")), "s"),
    ("passes", l.count("pass").toDouble, "count"))

  def layers(t: Tracer, l: Ledger): Map[String, Double] = {
    t.counters.drain()
    val ops = t.timed.filter(_.name == "op")
    val byModule = t.counters.workByModule(t.within("op"))
    val n = ops.size.toDouble
    System.err.println("etlbench: jobs by module " + byModule.map { case (m, w) => s"$m=${w.jobs}" }.mkString(" "))
    Layers.modules.flatMap { m =>
      val w = byModule.getOrElse(m, Tracer.Work())
      Seq(s"$m.jobs" -> w.jobs / n, s"$m.task_s" -> w.taskS / n, s"$m.shuffle_bytes" -> w.shuffleBytes / n)
    }.toMap ++ Layers.engine(t, "op")
  }
}
