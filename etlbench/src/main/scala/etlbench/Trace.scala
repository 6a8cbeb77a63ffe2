package etlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into the engine, plus
  * the Spark work each span caused.
  *
  * A span has a name, a start, an end, a parent and the run id. While a
  * span is open its id is a SparkContext local property, so every job
  * the call submits (broadcast and subquery jobs included: Spark copies
  * local properties to those threads) carries it; [[Counters]] reads it
  * back in `onJobStart`. Planning time and join metrics come from a
  * [[QueryExecutionListener]] and are attributed to the innermost span
  * whose wall-clock interval holds the query's first planning phase.
  *
  * Disabled, `span` is a plain call: untraced runs pay nothing. */
final class Tracer(val runId: String) {
  import Tracer._

  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  val counters = new Counters

  def enabled: Boolean = on

  /** Start recording and register the listeners on `spark`. Safe to call
    * again for a new session. */
  def attach(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters.queries)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val sc = SparkSession.active.sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prevProp = sc.getLocalProperty(SpanProperty)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, t0, t1, ms0, System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  @volatile private var markNs = 0L

  /** Start of the timed phase: per-layer figures cover spans from here. */
  def mark(): Unit = markNs = System.nanoTime()

  def timed: Seq[Span] = spans.filter(_.startNs >= markNs).toSeq

  /** Ids of every timed span named `name` and of all their descendants. */
  def within(name: String): Set[Int] = {
    val out = mutable.Set.empty[Int] ++ timed.filter(_.name == name).map(_.id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => out(s.parent) && !out(s.id)).map(_.id)
      grew = more.nonEmpty
      out ++= more
    }
    out.toSet
  }

  /** Per-span totals: the span's own jobs/stages plus all of its
    * descendants' (a parent's idle fraction must see its children's
    * tasks). */
  def inclusive(): Map[Int, Work] = {
    counters.drain()
    val parentOf = spans.map(s => s.id -> s.parent).toMap
    val own = counters.workBySpan(attributeQueries())
    val out = mutable.Map.empty[Int, Work].withDefaultValue(Work())
    for ((sid, w) <- own) {
      var cur = sid
      while (cur != 0) {
        out(cur) = out(cur) + w
        cur = parentOf.getOrElse(cur, 0)
      }
    }
    out.toMap.withDefaultValue(Work())
  }

  /** Span id that holds each recorded query, by planning start time. */
  private def attributeQueries(): Seq[(Int, QueryStat)] =
    counters.queries.recorded.flatMap { q =>
      spans.filter(s => s.startMs <= q.startMs && q.startMs <= s.endMs)
        .sortBy(s => s.endNs - s.startNs)
        .headOption.map(s => s.id -> q)
    }

  /** Self time: the span's wall time minus the part covered by its
    * direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => k.endNs - k.startNs).sum
    (s.endNs - s.startNs - kids) / 1e9
  }

  /** Spans as JSON lines, one object per span. */
  def dump(work: Map[Int, Work]): String =
    spans.sortBy(_.startNs).map { s =>
      val w = work(s.id)
      Json.obj(
        "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "wall_s" -> s.seconds, "self_s" -> selfSeconds(s),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks, "task_s" -> w.taskS,
        "shuffle_write_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "gc_s" -> w.gcS, "planning_s" -> w.planningS, "schema_jobs" -> w.schemaJobs)
    }.mkString("\n")
}

object Tracer {
  val SpanProperty = "etlbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                        startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Spark work attributed to one span. */
  final case class Work(jobs: Long = 0, schemaJobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        taskS: Double = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
                        gcS: Double = 0, planningS: Double = 0, joinRows: Long = 0) {
    def +(o: Work): Work = Work(jobs + o.jobs, schemaJobs + o.schemaJobs, stages + o.stages,
      tasks + o.tasks, taskS + o.taskS, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
      gcS + o.gcS, planningS + o.planningS, joinRows + o.joinRows)
  }

  final case class QueryStat(startMs: Long, planningS: Double, hitJoinRows: Long)

  /** The engine module a stage belongs to: the innermost `graft.*`
    * frame outside `graft.util` in its call site, e.g. `text.MinHashLsh`
    * or `QueriesText`. */
  def moduleOf(details: String): String =
    details.linesIterator.map(_.trim)
      .map(l => l.takeWhile(_ != '('))
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.util."))
      .map { f =>
        val cls = f.substring(0, f.lastIndexOf('.'))
        cls.stripPrefix("graft.").takeWhile(_ != '$')
      }
      .getOrElse("other")
}

/** The SparkListener half: jobs, stages, tasks, task time, shuffle,
    spill and GC, keyed by span id and by engine module. */
final class Counters extends SparkListener {
  import Tracer._

  private final case class JobRec(span: Int, module: String, schema: Boolean, exec: String)
  private final case class StageRec(span: Int, module: String, info: StageInfo, exec: String)

  private val stageSpan = mutable.Map.empty[Int, (Int, String, String)]
  // jobs submitted from Spark's own threads (adaptive query stages,
  // broadcasts) carry no engine frame; they take the module of the call
  // site that started their SQL execution
  private val execModule = mutable.Map.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      execModule.getOrElseUpdate(s.executionId.toString, moduleOf(s.details))
    }
    case _ =>
  }
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  val queries = new QueryCounters

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanProperty).map(_.toInt).getOrElse(0)
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    // parquet schema inference runs as a job whose call site is the
    // reader itself; parallel file listing sets a job description
    val schema = result.exists(_.name.startsWith("parquet at ")) ||
      prop("spark.job.description").exists(_.startsWith("Listing leaf files"))
    val exec = prop("spark.sql.execution.id").getOrElse("")
    val module = result.map(s => moduleOf(s.details)).getOrElse("other")
    jobs += JobRec(span, module, schema, exec)
    for (s <- e.stageInfos if !stageSpan.contains(s.stageId))
      stageSpan(s.stageId) = (span, moduleOf(s.details), exec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val (span, module, exec) = stageSpan.getOrElse(e.stageInfo.stageId, (0, moduleOf(e.stageInfo.details), ""))
    stages += StageRec(span, module, e.stageInfo, exec)
  }

  private def resolve(module: String, exec: String): String =
    if (module == "other") execModule.getOrElse(exec, module) else module

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    val sc = SparkSession.getActiveSession.map(_.sparkContext)
    sc.foreach { c =>
      val bus = c.getClass.getMethod("listenerBus").invoke(c)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
  }

  private def stageWork(r: StageRec): Work = {
    val m = r.info.taskMetrics
    if (m == null) Work(stages = 1, tasks = r.info.numTasks)
    else Work(stages = 1, tasks = r.info.numTasks, taskS = m.executorRunTime / 1e3,
      shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, gcS = m.jvmGCTime / 1e3)
  }

  def workBySpan(qs: Seq[(Int, QueryStat)]): Map[Int, Work] = synchronized {
    val w = mutable.Map.empty[Int, Work].withDefaultValue(Work())
    for (j <- jobs) w(j.span) = w(j.span) + Work(jobs = 1, schemaJobs = if (j.schema) 1 else 0)
    for (r <- stages) w(r.span) = w(r.span) + stageWork(r)
    for ((s, q) <- qs) w(s) = w(s) + Work(planningS = q.planningS, joinRows = q.hitJoinRows)
    w.toMap
  }

  /** Jobs, task time and shuffle bytes per engine module, over the work
    * that ran inside any of `spans`. */
  def workByModule(spans: Set[Int]): Map[String, Work] = synchronized {
    val w = mutable.Map.empty[String, Work].withDefaultValue(Work())
    for (j <- jobs if spans(j.span)) { val m = resolve(j.module, j.exec); w(m) = w(m) + Work(jobs = 1) }
    for (r <- stages if spans(r.span)) { val m = resolve(r.module, r.exec); w(m) = w(m) + stageWork(r) }
    w.toMap
  }
}

/** The QueryExecutionListener half: planning time from the
  * QueryPlanningTracker phases, and the spatial join's output rows from
  * its SQL metrics. */
final class QueryCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.QueryStat

  private val buf = mutable.ArrayBuffer.empty[QueryStat]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val start = phases.map(_.startTimeMs).min
      val planning = phases.map(_.durationMs).sum / 1e3
      // the grid-bucketed hit join: a broadcast equi-join on the cell
      // columns whose output rows are the point-in-rectangle hits
      val hits = collect(qe.executedPlan) {
        case j: BroadcastHashJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cx")) =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      synchronized(buf += QueryStat(start, planning, hits))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def recorded: Seq[QueryStat] = synchronized(buf.toSeq)
}
