package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of benchmark code around a call into a layer.
  * `op` groups the spans of one operation (one refresh, one epoch, one
  * scan); `parent` is the span that caused this one (-1 for a root). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** One Spark job: the span whose thread submitted it, wall interval,
  * and the innermost `graft.` frame of its call site. */
final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
                        frame: String, var tasks: Int = 0)

/** One completed Spark stage: its span and job, wall interval, the
  * RDDs it ran (`rdds`), the RDDs outside it that it reads through a
  * shuffle (`shuffleParents`), and the names of the plan nodes its RDDs
  * were created under. */
final case class StageRec(id: Int, span: Int, job: Int, startMs: Long, endMs: Long,
                          rdds: Set[Int], shuffleParents: Set[Int], scopes: Set[String]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Task-level counters summed per span. */
final class Counters {
  var tasks = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Per-span facts from Spark, read after [[Tracer.drain]]. */
final case class SpanFacts(jobs: Seq[JobRec], stages: Seq[StageRec], counters: Counters,
                           gcSeconds: Double, fsBytesRead: Long) {
  /** Union of the job intervals, in seconds. */
  def jobBusySeconds: Double = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy / 1e3
  }
  /** Summed duration of the jobs whose innermost frame matches. */
  def jobSeconds(p: String => Boolean): Double =
    jobs.filter(j => j.endMs >= 0 && p(j.frame)).map(j => (j.endMs - j.startMs) / 1e3).sum
}

/** The benchmark's tracer: in-memory spans around calls into the
  * program, plus a SparkListener that charges every job and task to the
  * span that was open on the submitting thread (carried as a Spark local
  * property, which Spark hands on to the threads it submits AQE and
  * broadcast jobs from). Spans and jobs are written out when the run
  * ends. With tracing off, no listener is registered and `span` only
  * runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val gcBySpan = new ConcurrentHashMap[Int, Double]()
  private val readBySpan = new ConcurrentHashMap[Int, Long]()
  private var nextId = 0
  private var stack = List.empty[Int]
  private var currentOp = 0

  /** Bytes read through Hadoop file systems by every thread of the JVM;
    * in local mode that includes the executor tasks. The task-level
    * input metric stays 0 for these scans, so spans use this delta. */
  private def fsRead: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Innermost program frame of a call-site stack, as Class.method;
    * "perfbench" when the benchmark itself issued the action. */
  private def innermost(stack: String): String =
    stack.linesIterator.map(_.trim.stripPrefix("at "))
      .find(l => l.startsWith("graft.")).map { l =>
        val call = l.takeWhile(_ != '(')
        val cls = call.substring(0, call.lastIndexOf('.')).stripSuffix("$")
        val m0 = call.substring(call.lastIndexOf('.') + 1)
        val m = if (m0.startsWith("$anonfun$")) m0.stripPrefix("$anonfun$").takeWhile(_ != '$') else m0
        s"$cls.$m"
      }.getOrElse("perfbench")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(pp => Option(pp.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val site = p.flatMap(pp => Option(pp.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(e.stageInfos.lastOption.map(_.details).getOrElse(""))
      jobs.put(e.jobId, JobRec(e.jobId, span, e.time, -1L, innermost(site),
        e.stageInfos.map(_.numTasks).sum))
      e.stageIds.foreach { s => stageSpan.put(s, span); stageJob.put(s, e.jobId) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime) {
        val own = i.rddInfos.map(_.id).toSet
        stages.put(i.stageId, StageRec(i.stageId, stageSpan.getOrDefault(i.stageId, -1),
          stageJob.getOrDefault(i.stageId, -1), t0, t1, own,
          i.rddInfos.flatMap(_.parentIds).toSet -- own,
          i.rddInfos.flatMap(org.apache.spark.PerfbenchBus.scopeNames).toSet))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.get(e.jobId)
      if (r != null) r.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span: Int = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (span >= 0 && m != null) {
        val c = counters.computeIfAbsent(span, _ => new Counters)
        c.synchronized {
          c.tasks += 1
          c.inputBytes += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
      case _ => ()
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Start a new operation; spans opened until the next call share its id. */
  def newOp(): Int = { currentOp += 1; currentOp }

  /** Time `body` as a span named `name`; returns its value and the span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevProp = sc.getLocalProperty(SpanKey)
    if (enabled) sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    val gc0 = gcMs
    val read0 = fsRead
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    try {
      val v = body
      val s = Span(id, name, parent, currentOp, startMs,
        startMs + (System.nanoTime() - t0) / 1e6)
      spans.synchronized(spans += s)
      gcBySpan.put(id, (gcMs - gc0) / 1e3)
      readBySpan.put(id, fsRead - read0)
      (v, s)
    } finally {
      stack = stack.tail
      if (enabled) sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.waitUntilEmpty(sc)

  /** Jobs and counters of `s` and all its descendant spans. */
  def facts(s: Span): SpanFacts = {
    val all = spans.synchronized(spans.toList)
    def under(id: Int): Set[Int] =
      Set(id) ++ all.filter(_.parent == id).flatMap(c => under(c.id))
    val ids = under(s.id)
    val js = jobs.values.asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
    val ss = stages.values.asScala.filter(st => ids(st.span)).toSeq.sortBy(_.startMs)
    val c = new Counters
    ids.foreach { i =>
      val x = counters.get(i)
      if (x != null) x.synchronized {
        c.tasks += x.tasks; c.inputBytes += x.inputBytes
        c.recordsRead += x.recordsRead; c.outputBytes += x.outputBytes
        c.shuffleWriteBytes += x.shuffleWriteBytes; c.spillBytes += x.spillBytes
      }
    }
    SpanFacts(js, ss, c, gcBySpan.getOrDefault(s.id, 0.0), readBySpan.getOrDefault(s.id, 0L))
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def countersOf(id: Int): Option[Counters] = Option(counters.get(id))
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def allStages: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.id)
}
