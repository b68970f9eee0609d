package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.UUID
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. A span
  * records its name, start, end and the span that was open when it
  * started; a disabled tracer only runs the body.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(@volatile var enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0
  val origin: Long = System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  /** Records a span whose times were measured elsewhere (a micro-batch
    * reported by the streaming engine) under the innermost open span.
    */
  def add(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      done += Span(nextId, open.get.headOption.getOrElse(0), name, startNs,
        endNs)
    }

  def spans: Seq[Span] = synchronized(done.toList)

  def render: Seq[Map[String, Any]] = spans.sortBy(_.startNs).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - origin) / 1e6, "dur_ms" -> s.ms))
}

/** Streaming progress log, registered in every CDC run: the drain loop
  * waits on it for the batch that commits the last input row, and the
  * per-layer metrics read the batches it kept.
  */
final case class Batch(recvNs: Long, recvMs: Long, p: StreamingQueryProgress)

final class ProgressLog extends StreamingQueryListener {
  private val byRun = mutable.Map[UUID, mutable.ArrayBuffer[Batch]]()
  private val failed = mutable.Map[UUID, String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val b = Batch(System.nanoTime(), System.currentTimeMillis(), e.progress)
    synchronized {
      byRun.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer()) += b
      notifyAll()
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    e.exception.foreach(x => failed(e.runId) = x)
    notifyAll()
  }

  def batches(runId: UUID): Seq[Batch] =
    synchronized(byRun.get(runId).map(_.toList).getOrElse(Nil))

  def rows(runId: UUID): Long = batches(runId).map(_.p.numInputRows).sum

  /** Blocks until the committed input rows of the run reach `rows`, and
    * returns the receipt time of the batch that reached it.
    */
  def awaitRows(runId: UUID, rows: Long, timeoutMs: Long): Long = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    def reached: Option[Long] = {
      var acc = 0L
      byRun.get(runId).toSeq.flatten.collectFirst {
        case b if { acc += b.p.numInputRows; acc >= rows } => b.recvNs
      }
    }
    var hit = reached
    while (hit.isEmpty) {
      failed.get(runId).foreach(x => throw new IllegalStateException(x))
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new IllegalStateException(
        s"drain timed out: ${this.rows(runId)} of $rows rows committed")
      wait(math.min(left, 100L))
      hit = reached
    }
    hit.get
  }
}

/** Work counters of the execution layer, summed over the interval the
  * listener is attached.
  */
final class ExecListener extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  private val readRecords = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val skews = mutable.ArrayBuffer[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.diskBytesSpilled
      val r = m.shuffleReadMetrics.recordsRead
      if (r > 0) readRecords.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer()) += r
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      readRecords.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
        .filter(_.size > 1).foreach { rs =>
          skews += rs.max / (rs.sum.toDouble / rs.size)
        }
    }

  /** Median over shuffle-reading stages of max task records / mean. */
  def partitionSkew: Double = synchronized {
    if (skews.isEmpty) 0.0 else Stats.quantile(skews.toSeq, 0.5)
  }

  def metrics: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_cpu_s" -> cpuNs / 1e9,
    "exec.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exec.shuffle_records" -> shuffleRecords.toDouble,
    "exec.partition_skew" -> partitionSkew,
    "exec.spill_bytes" -> spillBytes.toDouble))
}

/** Analysis, optimization and planning time of every batch query, from
  * each execution's planning tracker.
  */
final class PlanListener extends QueryExecutionListener {
  private val phases = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def snapshot: Map[String, Double] = synchronized(phases.toMap.withDefaultValue(0.0))
}

/** Janino compile time, summed from the code generator's own "Code
  * generated in N ms" log lines, which this appender captures without
  * passing them on to the console.
  */
final class CodegenLog {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  @volatile var compiles = 0L
  @volatile var ms = 0.0
  private val pattern = "Code generated in ([0-9.]+) ms".r.unanchored
  private val name =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case pattern(v) => CodegenLog.this.synchronized {
          compiles += 1; ms += v.toDouble
        }
        case _ => ()
      }
  }

  def attach(): Unit = {
    appender.start()
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    ctx.getConfiguration.removeLogger(name)
    ctx.updateLoggers()
    appender.stop()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis quantile: a Beta((n+1)q, (n+1)(1-q))-weighted average
    * of all order statistics. Latency percentiles use it because it moves
    * smoothly with the sample, where a single order statistic of a small or
    * tied sample jumps between neighbouring values.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(0.0)
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.size
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  /** Per-key mean over the maps that hold the key. */
  def meanMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / vs.size }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}
