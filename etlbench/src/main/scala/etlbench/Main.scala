package etlbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One workload of the benchmark. The engine sees only what
  * [[inputs]] generated from the seed. */
trait Workload {
  def name: String

  /** Generate (or reuse from `cache`) this seed's inputs and return
    * their fingerprint. Not part of set-up time; `spark` is only created
    * if the call uses it. */
  def inputs(spark: => SparkSession, seed: Long, cache: String): String

  /** Per-session set-up, timed into `setup_s`; resets all run state. */
  def setup(spark: SparkSession, t: Tracer): Unit

  /** Untimed ops on inputs and layouts the timed phase never uses; their
    * output checks count in `l`. */
  def warmup(spark: SparkSession, t: Tracer, l: Ledger): Unit

  /** One step of the closed loop: one or more timed ops. */
  def step(spark: SparkSession, t: Tracer, l: Ledger): Unit

  /** Whether the phase has the minimum samples its checks need. */
  def enough(l: Ledger): Boolean

  /** End-of-phase audits, outside any timed op. */
  def finish(spark: SparkSession, t: Tracer, l: Ledger): Unit

  /** The workload's latency-critical op and its throughput. */
  def latencyKind: String
  def throughput(l: Ledger): Double

  /** The workload's own metrics by name and unit (printed beside the
    * result line). */
  def named(l: Ledger): Seq[(String, Double, String)]

  /** Per-layer metrics from a traced phase. */
  def layers(t: Tracer, l: Ledger): Map[String, Double]
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w: Workload = a("workload") match {
      case "detector_sweep" => new DetectorSweep
      case "corpus_curation" => new CorpusCuration
      case "index_churn" => new IndexChurn
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val tracer = new Tracer(s"${w.name}-$seed-${ProcessHandle.current().pid()}")

    val g0 = System.nanoTime()
    var gen: Option[SparkSession] = None
    def genSession = gen.getOrElse { val s = Sessions.create(work); gen = Some(s); s }
    val fingerprint = w.inputs(genSession, seed, s"$work/inputs")
    gen.foreach(_.stop())
    System.err.println(f"etlbench: inputs ${(System.nanoTime() - g0) / 1e9}%.3f s")

    // A traced run measures tracing overhead against the untraced
    // protocol: the op median of an earlier untraced run of the same
    // seed when the caller passes it, else an untraced phase run here.
    val untracedOpMs = a.get("untraced-op-ms").map(_.toDouble)
    var spark: SparkSession = null
    var setups = Seq.empty[Double]
    val plain = new Ledger
    if (!traced || untracedOpMs.isEmpty) {
      // set-up, several times: session creation plus the workload's
      // memoized tables or restored indexes
      setups = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        spark = Sessions.create(work)
        w.setup(spark, tracer)
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"etlbench: setup $rep ${dt}%.3f s")
        if (rep < SetupReps) spark.stop()
        dt
      }
      warmup(spark, w, tracer, plain)
      phase(spark, w, tracer, plain, seconds)
    }

    // the traced phase: a fresh traced set-up, then the same closed loop
    val traceLedger = if (!traced) None else {
      if (spark != null) spark.stop()
      spark = Sessions.create(work)
      tracer.attach(spark)
      tracer.span("setup")(w.setup(spark, tracer))
      val l = new Ledger
      warmup(spark, w, tracer, l)
      tracer.mark()
      phase(spark, w, tracer, l, seconds)
      Some(l)
    }
    val rss = Sessions.peakRssMb()

    val ledgers = Seq(plain) ++ traceLedger
    def opMs(l: Ledger) = finite(Stats.median(l.latencies(w.latencyKind)), l) * 1e3
    val metrics: Seq[(String, Double, String)] = traceLedger match {
      case None =>
        Seq(("setup_s", Stats.median(setups), "s"), ("peak_rss_mb", rss, "MB"),
          ("throughput_per_s", w.throughput(plain), "items/s"), ("op_p50_ms", opMs(plain), "ms"))
      case Some(tl) =>
        val overhead = opMs(tl) / untracedOpMs.getOrElse(opMs(plain)) - 1.0
        val layer = w.layers(tracer, tl) + ("trace.overhead_frac" -> overhead)
        // a layer the workload does not call reads 0
        Layers.all.map { case (n, u) => (n, layer.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
    }
    val failed = ledgers.map(_.failed).sum
    val attempted = ledgers.map(_.attempted).sum
    val correct = ledgers.forall(_.ok) && attempted > 0
    val named = w.named(if (plain.attempted > 0) plain else traceLedger.get) :+
      (("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio"))

    val out = Json.obj(
      "workload" -> w.name, "seed" -> seed, "input_fingerprint" -> fingerprint,
      "setup_runs_s" -> setups, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "problems" -> ledgers.flatMap(_.failures).take(20),
      "named" -> scala.collection.immutable.ListMap(named.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*),
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
    if (traced) {
      val spans = tracer.dump(tracer.inclusive())
      Files.write(Paths.get(a("out") + ".spans.jsonl"), spans.getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    System.err.println(f"etlbench: jvm uptime ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f s")
  }

  private def warmup(spark: SparkSession, w: Workload, t: Tracer, l: Ledger): Unit = {
    val t0 = System.nanoTime()
    w.warmup(spark, t, l)
    System.err.println(f"etlbench: warm-up ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** A percentile that landed on a failed op (+inf) reads as the slowest
    * measured op; the run is marked incorrect either way. */
  private def finite(x: Double, l: Ledger): Double =
    if (x.isInfinite) l.slowest else x

  /** The closed loop: one client, next step only after the previous one
    * returned, until `seconds` have passed and the checks have their
    * minimum samples. */
  private def phase(spark: SparkSession, w: Workload, t: Tracer, l: Ledger, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || !w.enough(l)) w.step(spark, t, l)
    w.finish(spark, t, l)
  }
}
