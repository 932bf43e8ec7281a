package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Records what a run did, from outside the engine.
  *
  * Every call into an engine layer runs inside [[step]], and every set-up
  * repetition, round or search batch inside [[group]]. Both become spans with a
  * name, start, end and parent, held in memory and written when the run
  * ends. Wall times are always taken (the end-to-end metrics are built from
  * them). With `traced` set, each span also gets its own Spark job group,
  * and a listener sums the task metrics of the jobs in that group — those
  * counters are the per-layer Spark figures, and the listener and job
  * groups are the tracing overhead an untraced run does not pay.
  */
final class Recorder(val traced: Boolean, cores: Int) {

  final class Span(val id: Int, val parent: Int, val name: String,
      val step: Boolean, val work: Long, val start: Long) {
    var end = 0L
    @volatile var jobs = 0L
    @volatile var tasks = 0L
    @volatile var runMs = 0L
    @volatile var gcMs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var resultBytes = 0L
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }

  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private var open: List[Span] = Nil
  private var sc: SparkContext = _
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val byStage = new ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val s = if (g == null) null else byGroup.get(g)
      if (s != null) {
        s.synchronized(s.jobs += 1)
        e.stageIds.foreach(byStage.put(_, s))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.resultBytes += m.resultSize
      }
    }
  }

  /** Point the recorder at a (new) SparkContext. */
  def attach(context: SparkContext): Unit = {
    sc = context
    if (traced) {
      context.addSparkListener(listener)
      open.headOption.foreach(s => sc.setJobGroup(jobGroup(s), s.name))
    }
  }

  private def live: Boolean = traced && sc != null && !sc.isStopped

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (live) org.apache.spark.PerfbenchBus.drain(sc)

  private def jobGroup(s: Span): String = s"perfbench-${s.id}"

  private def within[T](name: String, step: Boolean, work: Long)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.fold(-1)(_.id), name, step, work,
      System.nanoTime() - t0)
    spans += s
    open = s :: open
    byGroup.put(jobGroup(s), s)
    if (live) sc.setJobGroup(jobGroup(s), name)
    try body finally {
      s.end = System.nanoTime() - t0
      open = open.tail
      if (live) open.headOption match {
        case Some(p) => sc.setJobGroup(jobGroup(p), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A set-up repetition, a round, a search batch within a round, or the
    * checks that follow the rounds.
    */
  def group[T](name: String)(body: => T): T = within(name, step = false, 0)(body)

  /** One call into an engine layer; `work` is its unit count (queries
    * searched, rows inserted, pairs scored), used for rates.
    */
  def step[T](name: String, work: Long = 1)(body: => T): T = within(name, step = true, work)(body)

  /** Attach a measured value (recall, bytes held, a count) to the
    * innermost open group or step.
    */
  def value(key: String, v: Double): Unit = open.head.values(key) = v

  /** Record one correctness check of an operation's output. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += Map("group" -> open.headOption.fold(-1)(_.id), "name" -> name,
      "ok" -> ok, "detail" -> (if (ok) "" else detail))

  def toJson: Map[String, Any] = Map(
    "traced" -> traced,
    "cores" -> cores,
    "spans" -> spans.map { s =>
      val base = Map[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> (if (s.step) "step" else "group"), "work" -> s.work,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9,
        "values" -> s.values.toMap)
      if (!traced) base
      else base ++ Map("jobs" -> s.jobs, "tasks" -> s.tasks,
        "executor_run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "shuffle_mb" -> s.shuffleBytes / 1048576.0,
        "result_mb" -> s.resultBytes / 1048576.0)
    }.toSeq,
    "checks" -> checks.toSeq)
}
