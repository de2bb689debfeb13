package graft
import java.nio.file.Paths
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional prefix filter (dev only — the driver always runs all):
    // tools/run_main.sh graft.Verify <sf> <out> q48 q58
    val wanted = args.drop(2)
    def selected(name: String) = wanted.isEmpty || wanted.exists(name.startsWith)
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // same cache policy as Bench: keep caches within a query group
    // (q70-q74 share ML lineage), clear at group boundaries so the
    // dedup/similarity caches don't accumulate over the full run
    var prevGroup = ""
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1)).foreach { case (name, fn) =>
      val group = name.take(2)
      if (prevGroup.nonEmpty && group != prevGroup) spark.catalog.clearCache()
      prevGroup = group
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    OracleJson.dump(Paths.get(s"$outDir/oracle_sql.json"))
    spark.stop()
  }
}
