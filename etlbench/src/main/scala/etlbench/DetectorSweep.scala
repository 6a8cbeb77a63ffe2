package etlbench

import graft.GraftSession
import graft.domain.EtlConfig
import graft.geom.Transforms
import graft.ops.DeeTiling
import graft.pipelines.{Acceptance, Layouts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's design loop: tile a layout variant not yet tiled in this
  * session, then run the acceptance scan over seeded particles
  * (hitCounts → histSparse + etaProfileSparse + statsSparse); every
  * third op is the 8-config bias-voltage study instead.
  *
  * The timed variants are a balanced half of layout × seal ×
  * noFeedthrough (each level twice), the same set on every seed so that
  * runs compare; the seed orders them and salts the particles. The
  * warm-up tiles a variant the timed phase never uses, so every timed
  * design point pays the tiling a designer pays. */
final class DetectorSweep extends Workload {
  val name = "detector_sweep"
  val latencyKind = "design_point"

  /** Events per design point. */
  val events = 200000L
  val timedVariants = Seq(("updated", false, false), ("updated", true, true),
    ("baseline", false, true), ("baseline", true, false))
  val warmupVariant = ("baseline", true, true)
  /** The brute-force check covers at least this many events. */
  val sampleEvents = 10000L

  private var seed = 0L
  private var variants: Seq[(String, Boolean, Boolean)] = Nil
  private var next = 0
  private var steps = 0
  private val accSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]

  def inputs(spark: => SparkSession, seed: Long, cache: String): String = {
    this.seed = seed
    variants = new scala.util.Random(seed).shuffle(timedVariants)
    // particles are a seeded formula, not a file: fingerprint the first
    // uniforms of slice 1 (Spark's xxhash64, evaluated here) plus the
    // variant order
    val s = salt(1)
    val head = (0L until 1000L).map(i => (uniform(i, s), uniform(i, s + 1))).mkString(";")
    Inputs.digest(head + variants.mkString)
  }

  /** Seeded uniforms in η ∈ [etaMin, etaMax], φ ∈ [−π/2, π/2]; each
    * (seed, slice) pair is an independent particle sample. */
  def particles(spark: SparkSession, slice: Int, n: Long): DataFrame = {
    def u(salt: Long) = pmod(xxhash64(col("id"), lit(salt)), lit(1000000007L)).cast("double") / 1000000007.0
    val s = salt(slice)
    spark.range(n).select(col("id").as("event_id"),
      (lit(EtlConfig.etaMin) + u(s) * (EtlConfig.etaMax - EtlConfig.etaMin)).as("eta"),
      (u(s + 1) * math.Pi - math.Pi / 2).as("phi"))
  }

  private def salt(slice: Int): Long = seed * 1000003L + slice * 2L

  private def uniform(id: Long, salt: Long): Double = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, salt)
    (((h % 1000000007L) + 1000000007L) % 1000000007L).toDouble / 1000000007.0
  }

  def setup(spark: SparkSession, t: Tracer): Unit = {
    next = 0
    steps = 0
    accSeconds.clear()
    t.span("pipelines.Layouts.faceSensors")(Layouts.faceSensors(spark))
  }

  /** One design point on the warm-up variant and particle slice 0, a
    * scan of the particles_seed42 fixture (its histogram must reproduce
    * fixtures/acceptance_golden.json exactly; the golden's mean and
    * fractions follow from the histogram) and one BV study. */
  def warmup(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    val warm = new Ledger
    designPoint(spark, t, warm, warmupVariant, slice = 0)
    accSeconds.clear()
    val golden = Inputs.json("fixtures/acceptance_golden.json")
    val p = spark.read.parquet("fixtures/particles_seed42.parquet")
    val want = golden("hist").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString.toDouble.toLong }
    val n = want.values.sum
    val sparse = Acceptance.hitCounts(spark, p, Layouts.faceSensors(spark))
    val hist = Acceptance.histSparse(spark, sparse, n).collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    l.check(hist == want, s"seed-42 fixture histogram $hist differs from the golden $want")
    val h = (k: Int) => hist.getOrElse(k.toString, 0L).toDouble / n
    for ((k, v) <- Seq("mean_nhits" -> (1 to 4).map(i => i * h(i)).sum, "frac_ge1" -> (1.0 - h(0)),
                       "frac_ge2" -> (1.0 - h(0) - h(1))))
      l.check(math.abs(v - golden(k).toString.toDouble) < 5e-7, s"seed-42 fixture $k $v differs from the golden ${golden(k)}")
    bvStudy(spark, t, warm)
    l.adopt(warm)
  }

  def step(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    steps += 1
    if (steps % 3 == 0 || next >= variants.size) bvStudy(spark, t, l)
    else {
      designPoint(spark, t, l, variants(next), slice = next + 1)
      next += 1
    }
  }

  def enough(l: Ledger): Boolean = next >= variants.size && l.count("bv_study") >= 2

  private def designPoint(spark: SparkSession, t: Tracer, l: Ledger, v: (String, Boolean, Boolean),
                          slice: Int): Unit = {
    val (layout, seal, noFt) = v
    val n = events
    val p = particles(spark, slice, n)
    var sensors: DataFrame = null
    var sparse: DataFrame = null
    var hist: Map[Long, Long] = Map.empty
    var prof: Array[org.apache.spark.sql.Row] = Array.empty
    var stats: org.apache.spark.sql.Row = null
    l.run("design_point") {
      t.span("op") {
        sensors = t.span("ops.DeeTiling.layoutFaceSensors")(
          DeeTiling.layoutFaceSensors(spark, layout, seal, noFt))
        val a0 = System.nanoTime()
        var forced = 0.0
        sparse = Acceptance.hitCounts(spark, p, sensors)
        if (t.enabled) {
          // traced runs only: force the join so the kernel gets its own
          // span; its time is left out of the op
          val c0 = System.nanoTime()
          t.span("pipelines.Acceptance.hitCounts")(sparse.count())
          forced = (System.nanoTime() - c0) / 1e9
          l.exclude(forced)
        }
        hist = t.span("pipelines.Acceptance.histSparse")(
          Acceptance.histSparse(spark, sparse, n).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        prof = t.span("pipelines.Acceptance.etaProfileSparse")(
          Acceptance.etaProfileSparse(p, sparse).collect())
        stats = t.span("pipelines.Acceptance.statsSparse")(Acceptance.statsSparse(spark, sparse, n).head())
        accSeconds += (System.nanoTime() - a0) / 1e9 - forced
      }
      // output checks, inside the op's ledger entry but outside its timing
      l.pause {
        l.check(hist.values.sum == n, s"$layout/$seal/$noFt: histogram sums to ${hist.values.sum}, not $n")
        l.check(hist.keySet.subsetOf((0L to 4L).toSet), s"n_hits outside 0..4: ${hist.keySet}")
        l.check(prof.map(_.getAs[Long]("n")).sum == n, "eta profile denominators do not sum to N")
        val weighted = hist.map { case (k, c) => k * c }.sum.toDouble / n
        l.check(math.abs(weighted - stats.getAs[Double]("mean_nhits")) < 1e-9,
          s"statsSparse mean ${stats.getAs[Double]("mean_nhits")} != histogram mean $weighted")
        bruteForce(spark, l, p, sensors, n, v)
        if (!seal && !noFt && layout == "updated") tilingGolden(spark, l)
      }
      n
    }
  }

  /** n_hits on a seeded sample of at least [[sampleEvents]] events
    * against a driver-side point-in-rectangle count over every sensor. */
  private def bruteForce(spark: SparkSession, l: Ledger, p: DataFrame, sensors: DataFrame, n: Long,
                         v: (String, Boolean, Boolean)): Unit = {
    val every = math.max(1L, n / (sampleEvents * 11 / 10))
    val sample = p.where(pmod(xxhash64(col("event_id"), lit(seed + 7)), lit(every)) === 0)
    val got = Acceptance.hitCounts(spark, sample, sensors).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_hits")).toMap
    val kin = Transforms.withCartesian(sample, zMm = EtlConfig.zGenMm)
      .select("event_id", "x", "y", "theta", "phi").collect()
    val rects = sensors.select("face", "ax1", "ax2", "ay1", "ay2").collect()
      .groupBy(_.getInt(0)).map { case (f, rs) =>
        f -> rs.map(r => Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))) }
    val dz = EtlConfig.zLayersM.map(z => 1000.0 * (z - EtlConfig.zRefM))
    var bad = 0
    for (r <- kin) {
      val (x, y, th, ph) = (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val (t, c, s) = (math.tan(th), math.cos(ph), math.sin(ph))
      val want = dz.indices.count { f =>
        val px = x + dz(f) * t * c
        val py = y + dz(f) * t * s
        rects.getOrElse(f, Array.empty[Array[Double]]).exists(a => a(0) < px && px < a(1) && a(2) < py && py < a(3))
      }.toLong
      if (got.getOrElse(r.getLong(0), 0L) != want) bad += 1
    }
    l.check(kin.length >= sampleEvents, s"brute-force sample has only ${kin.length} events")
    l.check(bad == 0, s"$v: $bad of ${kin.length} sampled events disagree with the brute-force count")
  }

  /** The 'updated' variant against fixtures/tiling_counts_golden.json. */
  private def tilingGolden(spark: SparkSession, l: Ledger): Unit = {
    val golden = Inputs.json("fixtures/tiling_counts_golden.json")("updated_S")
      .asInstanceOf[Map[String, Any]]
    val sms = DeeTiling.tileLayout(spark, "updated").filter(col("kind") === "sm")
      .groupBy("face", "n_mod").count().collect()
      .map(r => (r.getString(0), r.get(1).toString.toDouble.toInt, r.getLong(2)))
    for ((face, g0) <- golden) {
      val g = g0.asInstanceOf[Map[String, Any]]
      val mine = sms.filter(_._1 == face)
      val flavors = mine.map(m => m._2.toString -> m._3).toMap
      val want = g("flavors").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString.toDouble.toLong }
      l.check(mine.map(_._3).sum == g("n_sm").toString.toDouble.toLong && flavors == want &&
        mine.map(m => m._2 * m._3).sum == g("n_modules").toString.toDouble.toLong,
        s"tiling of 'updated' $face differs from the golden: $flavors vs $want")
    }
  }

  private def bvStudy(spark: SparkSession, t: Tracer, l: Ledger): Unit = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    l.run("bv_study") {
      t.span("op")(t.span("ops.BvSearch.study") {
        rows = GraftSession.query("bv_study")(spark, ".").collect()
      })
      val golden = Inputs.json("fixtures/occupancy_bv_golden.json")("bv").asInstanceOf[Map[String, Any]]
      l.check(rows.length == golden.size, s"bv_study returned ${rows.length} configs")
      for (r <- rows) {
        val g = golden.get(r.getString(0)).map(_.asInstanceOf[Map[String, Any]])
        l.check(g.exists(m => m("leads").toString.toDouble.toLong == r.getLong(1) &&
          m("channels").toString.toDouble.toLong == r.getLong(2)),
          s"bv_study ${r.getString(0)}: (${r.getLong(1)}, ${r.getLong(2)}) differs from the golden")
      }
      1L
    }
  }

  def finish(spark: SparkSession, t: Tracer, l: Ledger): Unit = ()

  def throughput(l: Ledger): Double = l.items("design_point") / accSeconds.sum

  def named(l: Ledger): Seq[(String, Double, String)] = Seq(
    ("events_per_s", throughput(l), "events/s"),
    ("layout_eval_p50_s", Stats.median(l.latencies("design_point")), "s"),
    ("bv_study_s", Stats.median(l.latencies("bv_study")), "s"),
    ("design_points", l.count("design_point").toDouble, "count"),
    ("bv_studies", l.count("bv_study").toDouble, "count"))

  def layers(t: Tracer, l: Ledger): Map[String, Double] = {
    val hit = t.timed.filter(_.name == "pipelines.Acceptance.hitCounts")
    val work = t.inclusive()
    val joinRows = hit.map(s => work(s.id).joinRows).sum
    Layers.named(t, "ops.DeeTiling.layoutFaceSensors") ++
      Seq("hitCounts", "histSparse", "etaProfileSparse").flatMap(f => Layers.named(t, s"pipelines.Acceptance.$f")) ++
      Layers.named(t, "ops.BvSearch.study") ++
      Layers.named(t, "pipelines.Layouts.faceSensors", setup = true).filter(_._1.endsWith(".s")) ++
      Map("ops.SpatialJoin.hitJoin.hits_per_candidate" -> joinRows.toDouble / (hit.size * events * 4.0)) ++
      Layers.engine(t, "op")
  }
}
