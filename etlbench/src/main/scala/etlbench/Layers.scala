package etlbench

/** The per-layer metrics a traced run reports, by name and unit. Every
  * traced run prints all of them; a layer its workload does not call
  * reads 0. */
object Layers {
  private val perCall = Seq("s" -> "s", "jobs" -> "count", "task_s" -> "s",
    "idle_frac" -> "ratio", "shuffle_bytes" -> "bytes")
  private def pick(span: String, keys: String*): Seq[(String, String)] =
    (perCall ++ Seq("schema_jobs" -> "count", "planning_s" -> "s"))
      .filter(k => keys.contains(k._1)).map { case (k, u) => s"$span.$k" -> u }

  val modules: Seq[String] = Seq("text.MinHashLsh", "text.ExactSubstr", "text.Bpe", "text.Packing",
    "ml.AnnSearch", "QueriesText")

  val all: Seq[(String, String)] =
    pick("ops.DeeTiling.layoutFaceSensors", "s", "jobs", "idle_frac") ++
      Seq("hitCounts", "histSparse", "etaProfileSparse").flatMap(f =>
        pick(s"pipelines.Acceptance.$f", "s", "jobs", "task_s", "idle_frac", "shuffle_bytes")) ++
      Seq("ops.SpatialJoin.hitJoin.hits_per_candidate" -> "ratio") ++
      pick("ops.BvSearch.study", "s", "jobs", "idle_frac") ++
      Seq("pipelines.Layouts.faceSensors.s" -> "s") ++
      modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.task_s" -> "s", s"$m.shuffle_bytes" -> "bytes")) ++
      Seq("processShard", "updateIndexInPlace", "compactPublish").flatMap(f =>
        pick(s"text.IncrementalDedup.$f", "s", "jobs")) ++
      Seq("appendInPlace", "deleteInPlace", "compactPublish").flatMap(f =>
        pick(s"ml.IvfIndex.$f", "s", "jobs")) ++
      pick("ml.IvfIndex.search", "s", "jobs", "schema_jobs", "planning_s", "idle_frac") ++
      Seq("ml.IvfIndex.search.recall_at_10" -> "ratio",
        "text.IncrementalDedup.processShard.kept_frac" -> "ratio",
        "util.TableIndex.files" -> "count",
        "util.TableIndex.bytes_rewritten" -> "bytes",
        "util.TableIndex.vacuumGenerations.s" -> "s") ++
      Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s" -> "s",
        "idle_frac" -> "ratio", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
        "gc_s" -> "s", "planning_s" -> "s", "schema_jobs" -> "count").map { case (k, u) => s"spark.$k" -> u } ++
      Seq("trace.overhead_frac" -> "ratio")

  /** Per-call figures of every timed span named `name` (with `setup`,
    * of every span, set-up included): median wall seconds, and per-call
    * means of the Spark work inside it. */
  def span(t: Tracer, name: String, setup: Boolean = false): Map[String, Double] = {
    val work = t.inclusive()
    val spans = (if (setup) t.recorded else t.timed).filter(_.name == name)
    if (spans.isEmpty) Map.empty
    else {
      val n = spans.size.toDouble
      val w = spans.map(s => work(s.id)).reduce(_ + _)
      val wall = spans.map(_.seconds).sum
      Map("s" -> Stats.median(spans.map(_.seconds)), "jobs" -> w.jobs / n, "task_s" -> w.taskS / n,
        "idle_frac" -> (1.0 - w.taskS / (wall * Sessions.Cores)),
        "shuffle_bytes" -> w.shuffleBytes / n, "schema_jobs" -> w.schemaJobs / n,
        "planning_s" -> w.planningS / n)
    }
  }

  /** `span` under the metric names of [[all]]. */
  def named(t: Tracer, name: String, setup: Boolean = false): Map[String, Double] =
    span(t, name, setup).map { case (k, v) => s"$name.$k" -> v }

  /** The Spark engine metrics over all spans named `op`: per-op means,
    * and idle fraction over their summed wall time. */
  def engine(t: Tracer, op: String): Map[String, Double] = {
    val work = t.inclusive()
    val spans = t.timed.filter(_.name == op)
    if (spans.isEmpty) Map.empty
    else {
      val n = spans.size.toDouble
      val w = spans.map(s => work(s.id)).reduce(_ + _)
      val wall = spans.map(_.seconds).sum
      Map("spark.jobs" -> w.jobs / n, "spark.stages" -> w.stages / n, "spark.tasks" -> w.tasks / n,
        "spark.task_s" -> w.taskS / n, "spark.idle_frac" -> (1.0 - w.taskS / (wall * Sessions.Cores)),
        "spark.shuffle_write_bytes" -> w.shuffleBytes / n, "spark.spill_bytes" -> w.spillBytes / n,
        "spark.gc_s" -> w.gcS / n, "spark.planning_s" -> w.planningS / n,
        "spark.schema_jobs" -> w.schemaJobs / n)
    }
  }
}
