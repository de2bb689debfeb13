package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Operation ledger of one run: every call or statement the benchmark
  * makes counts as attempted; an exception or a failed output check
  * counts it as failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** A check on an output; a false check fails the enclosing op. */
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg.take(400)
    System.err.println(s"[perfbench] FAILED $msg")
  }
}

/** A workload: inputs loaded once in `setup`, then identical passes. */
trait Workload {
  def setup(): Unit
  def pass(): Unit
  /** Workload-level per-layer counters, read after the last pass. */
  def layerCounters(): Map[String, Double]
  /** Raw samples recorded beside the metrics (per-kind latencies). */
  def samples: Map[String, Seq[Double]] = Map.empty
}

/** The benchmark's JVM side. run.py generates the inputs, starts this
  * main, and prints the result it writes.
  *
  * Args: --workload W --input DIR --work DIR --seconds S --trace 0|1
  *       --out FILE [--conf key=value]... [--fact key=value]... */
object Main {
  def main(args: Array[String]): Unit = {
    val pairs = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toSeq
    val opt = pairs.toMap
    def kv(flag: String) = pairs.collect { case (`flag`, s) =>
      val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val facts = kv("fact")

    val tSession = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = kv("conf").foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .config("spark.local.dir", s"$work/spark-local")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val checks = new Checks
    val tracer = new Tracer(spark, workload, traced)
    val wl: Workload = workload match {
      case "paper_pipeline" => new PaperPipeline(spark, opt("input"), checks, tracer)
      case "lakehouse_sql" => new LakehouseSql(spark, opt("input"), work, facts, checks, tracer)
      case "curation_dedup" => new CurationDedup(spark, opt("input"), work, facts, checks, tracer)
    }
    val tSetup = System.nanoTime()
    wl.setup()
    val prepS = (System.nanoTime() - tSetup) / 1e9
    // setup's own ops (loads, warm-up) are not part of the measured mix
    checks.attempted = 0
    require(checks.failed == 0, s"setup failed: ${checks.failures.mkString("; ")}")
    tracer.clear()

    val cg0 = Codegen.snap()
    val passes = mutable.ArrayBuffer[Double]()
    // passes run until one more median pass would overrun the budget;
    // each starts from a collected heap, so garbage left by the previous
    // pass is not charged to the next one
    do {
      System.gc()
      val t = System.nanoTime()
      tracer.span("pass") { wl.pass() }
      passes += (System.nanoTime() - t) / 1e9
    } while (passes.sum + Stats.median(passes.toSeq) <= seconds)
    val windowS = passes.sum
    val cg1 = Codegen.snap()

    val e2e = Map(
      "session_s" -> sessionS,
      "prepare_s" -> prepS,
      "pass_s" -> Stats.median(passes.toSeq),
      "ops_per_s" -> checks.attempted / windowS,
      "ops_ok_ratio" -> (checks.attempted - checks.failed).toDouble / checks.attempted.max(1))
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else Layers.report(tracer) ++ wl.layerCounters() ++ Map(
        "codegen.compilations" -> (cg1 - cg0).toDouble,
        "jvm.peak_rss_mb" -> Stats.peakRssMb())
    val out = Map[String, Any](
      "workload" -> workload,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "failures" -> checks.failures.toSeq,
      "passes" -> passes.toSeq,
      "window_s" -> windowS,
      "e2e" -> e2e,
      "layers" -> layers,
      "samples" -> wl.samples,
      "spans" -> (if (traced) tracer.spansJson else Seq.empty))
    Files.writeString(Paths.get(opt("out")),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats))
    spark.stop()
  }
}

object Codegen {
  /** Whole-stage codegen compilations so far, from Spark's CodegenMetrics. */
  def snap(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The JVM's resident-set high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}
