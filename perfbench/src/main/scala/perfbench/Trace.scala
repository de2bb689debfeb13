package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a benchmark call into one layer. Counters hold SELF
  * amounts, i.e. what happened while this span was the innermost open
  * one, so a parent's numbers never double-count its children. */
final class Span(val id: Int, val name: String, val parent: Int,
    val workload: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.Map[String, Double] =
    mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counters(k) += v
}

/** Span recorder. Disabled, `span` just runs its body: untraced runs
  * install no listener and take no snapshot.
  *
  * Enabled, every span boundary first drains Spark's listener bus, so
  * each job, task and query-execution event is charged to the span that
  * was innermost while it ran: the benchmark is the only client and its
  * calls are synchronous. JVM-wide counters (GC time, TxnTable
  * manifest reads) are charged the same way from deltas taken at each
  * boundary. */
final class Tracer(spark: SparkSession, workload: String, val enabled: Boolean) {
  private val stack = mutable.ArrayBuffer[Span]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  @volatile private var current: Span = _
  private var lastNs = 0L
  private var lastGcMs = 0L
  private var lastManifestReads = 0L
  val t0Ns: Long = System.nanoTime()

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def manifestReads: Long = graft.sources.TxnTable.manifestReads.get()

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = charge("jobs", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        charge("tasks", 1)
        if (m != null) {
          charge("exec_cpu_s", m.executorCpuTime / 1e9)
          charge("exec_run_s", m.executorRunTime / 1e3)
          charge("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          charge("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
  }

  private def phases(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.collect {
      case (p, s) if p == "analysis" || p == "optimization" || p == "planning" =>
        s.durationMs
    }.sum
    charge("catalyst_ms", ms.toDouble)
  }

  private def charge(k: String, v: Double): Unit = {
    val s = current
    if (s != null) s.synchronized(s.add(k, v))
  }

  /** Close the interval since the last boundary: charge it to the
    * innermost span, then make `next` the innermost one. */
  private def boundary(next: Span): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val now = System.nanoTime()
    val gc = gcMs
    val mr = manifestReads
    val s = current
    if (s != null) s.synchronized {
      s.add("self_s", (now - lastNs) / 1e9)
      s.add("gc_s", (gc - lastGcMs) / 1e3)
      s.add("manifest_reads", (mr - lastManifestReads).toDouble)
    }
    current = next
    lastNs = now; lastGcMs = gc; lastManifestReads = mr
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.lastOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        workload, System.nanoTime())
      boundary(s)
      spans += s
      stack += s
      try body
      finally {
        boundary(parent.orNull)
        s.endNs = System.nanoTime()
        stack.remove(stack.size - 1)
      }
    }

  /** Forget the spans recorded so far (set-up and warm-up). */
  def clear(): Unit = if (enabled) {
    require(stack.isEmpty, "clear() inside an open span")
    boundary(null)
    spans.clear()
  }

  /** Wall time of every closed span with this name, in seconds. */
  def wallS(name: String): Seq[Double] =
    spans.filter(s => s.name == name && s.endNs > 0).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "workload" -> s.workload,
      "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
      "counters" -> s.counters.toMap)
  }
}
