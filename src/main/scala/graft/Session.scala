package graft
import org.apache.spark.sql.SparkSession

/** The one way the engine builds a SparkSession: Bench, Verify, Explain
  * and the specs all run under `Session.build`, so a setting added here
  * reaches every one of them. `perfbench/session.json` lists the same
  * [[fixed]] map (SessionSpec checks that the two agree). */
object Session {
  /** Settings that do not depend on the core count. */
  val fixed: Map[String, String] = Map(
    // the engine's Catalyst extension class, activated the sanctioned
    // way (at session construction): SQL functions, optimizer rule,
    // and the as-of join planner strategy
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // fork-free local-FS permissions (graft.NioLocalFs): Hadoop
    // shells out chmod per created file without libhadoop native
    "spark.hadoop.fs.file.impl" -> "graft.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.NioLocalFsAbstract",
    // r15 (measured): the default 100-entry whole-stage-codegen class
    // cache is smaller than ONE lifecycle query's ~150 generated
    // classes, so every statement recompiled its fragments on every rep
    // (qec rep-2: 141 Janino compilations with the default, 0 with the
    // cache sized to the workload; the qd*/qe* family's tail improved
    // 1.3-1.9x). Plan-count-dependent, not data-size-dependent — a
    // production driver serving many distinct statements wants the same
    // headroom.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A `local[cores]` session with `cores` shuffle partitions and the
    * JVM's scratch warehouse. Returns the JVM's existing session if one
    * was already built (its static settings cannot change). */
  def build(cores: Int): SparkSession = {
    val spark = fixed.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.warehouse.dir", Fs.scratch("graft_spark_warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
