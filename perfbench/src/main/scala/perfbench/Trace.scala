package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer boundary crossed by the benchmark. Times
  * are epoch milliseconds so they line up with Spark's listener events. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double)

/** Counters a traced run reads at operation boundaries. Every field is a
  * running total; an operation's share is the difference of two reads. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Double = 0, cpuMs: Double = 0, gcMs: Double = 0,
    inputBytes: Long = 0, inputRows: Long = 0,
    outputBytes: Long = 0, outputRows: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    planMs: Double = 0, aqeUpdates: Long = 0) {
  def -(o: Counters): Counters = zip(o, -1)
  def +(o: Counters): Counters = zip(o, 1)
  private def zip(o: Counters, k: Int): Counters = Counters(
    jobs + k * o.jobs, stages + k * o.stages, tasks + k * o.tasks,
    runMs + k * o.runMs, cpuMs + k * o.cpuMs, gcMs + k * o.gcMs,
    inputBytes + k * o.inputBytes, inputRows + k * o.inputRows,
    outputBytes + k * o.outputBytes, outputRows + k * o.outputRows,
    shuffleReadBytes + k * o.shuffleReadBytes, shuffleWriteBytes + k * o.shuffleWriteBytes,
    spillBytes + k * o.spillBytes, planMs + k * o.planMs, aqeUpdates + k * o.aqeUpdates)
}

/** The traced run's recorder: a SparkListener for jobs and stages, a
  * QueryExecutionListener for Catalyst planning, and client-side spans
  * the workloads open around builds, operations, lookups and renders.
  * Everything is held in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  /** Span of the operation now running; Spark jobs and stages hang off it. */
  @volatile var current: Long = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val s = jobStart.remove(e.jobId).getOrElse(e.time)
      jobIntervals += ((s, e.time))
      c = c.copy(jobs = c.jobs + 1)
      add(current, s"job ${e.jobId}", s.toDouble, e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) c = c.copy(
        stages = c.stages + 1, tasks = c.tasks + i.numTasks,
        runMs = c.runMs + m.executorRunTime,
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6,
        gcMs = c.gcMs + m.jvmGCTime,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        outputRows = c.outputRows + m.outputMetrics.recordsWritten,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
      for (s <- i.submissionTime; e2 <- i.completionTime)
        add(current, s"stage ${i.stageId}", s.toDouble, e2.toDouble)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized {
        c = c.copy(aqeUpdates = c.aqeUpdates + 1)
      }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val ms = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        c = c.copy(planMs = c.planMs + ms)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Wait until every posted listener event has been delivered, so a read
    * of the counters covers everything the finished operation did. */
  def drain(): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)

  def counters: Counters = synchronized(c)

  def jobsBetween(fromMs: Long, toMs: Long): Seq[(Long, Long)] = synchronized {
    jobIntervals.filter { case (s, e) => e > fromMs && s < toMs }.toSeq
  }

  /** Reserve a span id now (so children can point at it) and record the
    * span when its end is known. */
  def open(): Long = synchronized { val id = nextId; nextId += 1; id }
  def close(id: Long, parent: Long, name: String, startMs: Double, endMs: Double): Unit =
    synchronized { spans += Span(id, parent, name, startMs, endMs) }

  /** Record a span whose bounds are already known. */
  def add(parent: Long, name: String, startMs: Double, endMs: Double): Unit =
    close(open(), parent, name, startMs, endMs)

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  private val baseMs = System.currentTimeMillis.toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution, on the same clock as
    * Spark's listener event times. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Self time per span name: each span's duration minus the part of it
    * its child spans cover, summed over spans with the same name. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name.takeWhile(_ != ' ')).map { case (name, ss) =>
      name -> ss.map { s =>
        def us(ms: Double) = (ms * 1000).toLong
        val covered = Stats.coveredWithin(kids.getOrElse(s.id, Nil).map(k =>
          (us(k.startMs), us(k.endMs))), us(s.startMs), us(s.endMs)) / 1000.0
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  def writeSpans(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
