package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory trace of one benchmark run.
  *
  * Spans form the hierarchy workload → public call → microbatch → Spark
  * job. The harness opens the workload and call spans around the calls
  * it makes; microbatch spans come from streaming progress events and
  * job spans from the scheduler's listener bus. Every callback only
  * appends to memory and never runs a Spark job; [[Layers]] aggregates
  * after the measured pass ends.
  */
final class Tracer {
  import Tracer._

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val contexts = mutable.ArrayBuffer.empty[ContextListener]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val open = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Time `f` as a span named `name` under the caller's current span. */
  def span[A](name: String)(f: => A): A = {
    val parent = open.get.headOption.getOrElse(-1)
    val s = lock.synchronized {
      val s = Span(spans.size, parent, name, System.currentTimeMillis(), -1L)
      spans += s
      s
    }
    open.set(s.id :: open.get)
    try f
    finally {
      s.endMs = System.currentTimeMillis()
      open.set(open.get.tail)
    }
  }

  /** The module of the innermost engine frame of a long-form call site. */
  private def moduleOf(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim)
    frames.find(f => f.startsWith("graft.")) match {
      case Some(f) =>
        val file = f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != '.')
        val pkg = f.stripPrefix("graft.").takeWhile(_ != '.')
        if (pkg == "operators" || pkg == "functions") s"$pkg.$file" else file
      case None =>
        if (frames.exists(_.startsWith("perfbench."))) "perfbench" else "other"
    }
  }

  /** Jobs, stages and SQL executions of one SparkContext. Job and stage
    * ids restart at 0 in every context, so each context gets its own
    * listener and its own maps. */
  private final class ContextListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stageJob = mutable.HashMap.empty[Int, Job]
    /** SQL execution id → (root execution id, module of the calling code). */
    val executions = mutable.HashMap.empty[Long, (Long, String)]

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      val batch = for {
        props <- p
        b <- Option(props.getProperty("streaming.sql.batchId"))
        q <- Option(props.getProperty("sql.streaming.queryId"))
      } yield (q, b.toLong)
      val exec = p.flatMap(props => Option(props.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val last = e.stageInfos.maxBy(_.stageId)
      val j = new Job(e.jobId, e.time, batch, exec, moduleOf(last.details), e.stageInfos.size)
      jobs(e.jobId) = j
      e.stageInfos.foreach(s => stageJob(s.stageId) = j)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        lock.synchronized {
          executions(x.executionId) =
            (x.rootExecutionId.getOrElse(x.executionId), moduleOf(x.details))
        }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.reason != TaskSuccess) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.recordsWritten += m.outputMetrics.recordsWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
          // scheduler delay: task wall time not spent deserializing,
          // running or serializing its result
          val info = e.taskInfo
          j.waitMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
    }

    /** Jobs without an engine frame take the module of their SQL execution. */
    def resolved: Seq[Job] = {
      def execModule(id: Long): Option[String] = executions.get(id).flatMap {
        case (_, m) if m != "other" => Some(m)
        case (root, _) if root != id => execModule(root)
        case _ => None
      }
      for (j <- jobs.values if j.module == "other"; e <- j.exec; m <- execModule(e)) j.module = m
      jobs.values.toList
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = Tracer.batchOf(e.progress)
      lock.synchronized(batches += b)
    }
  }

  /** Attach both listeners to a (possibly new) session. */
  def install(spark: SparkSession): Unit = {
    val l = new ContextListener
    lock.synchronized(contexts += l)
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(queryListener)
  }

  /** Wait until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spans, jobs of every context so far, and batches. */
  def snapshot: (Seq[Span], Seq[Job], Seq[Batch]) = lock.synchronized {
    (spans.toList, contexts.toList.flatMap(_.resolved), batches.toList)
  }
}

object Tracer {

  /** A harness-side span. `parent` is the enclosing span's id, or -1. */
  final case class Span(id: Int, parent: Int, name: String, startMs: Long,
      var endMs: Long)

  /** One Spark job with its task totals. A job's batch comes from the
    * `streaming.sql.batchId`/`sql.streaming.queryId` properties the
    * micro-batch engine sets; its module from the innermost engine frame
    * of its call site. Jobs a query submits from Spark's own threads
    * (adaptive query stages, broadcasts) carry no engine frame; they take
    * the module of the code that started their SQL execution (`exec`). */
  final class Job(val id: Int, val startMs: Long, val batch: Option[(String, Long)],
      val exec: Option[Long], var module: String, val stages: Int) {
    var endMs: Long = startMs
    var failed = false
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsWritten = 0L
    var bytesWritten = 0L
  }

  /** One microbatch, from its progress event. */
  final case class Batch(queryId: String, name: String, batchId: Long,
      startMs: Long, triggerMs: Long, inputRows: Long,
      phases: Map[String, Long], stateRows: Long, stateBytes: Long)

  def batchOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Batch = {
    import scala.jdk.CollectionConverters._
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Batch(p.id.toString, Option(p.name).getOrElse(""), p.batchId, start,
      phases.getOrElse("triggerExecution", 0L), p.numInputRows, phases,
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The parts of `iv` inside `[lo, hi)`. */
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}
