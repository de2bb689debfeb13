package perfbench

/** Per-layer metrics, `<layer>.<span>.<counter>`, from a traced run's
  * spans. A span's counters are reported as means per occurrence, so a
  * run that fits more passes into its time reports the same numbers. A
  * span the workload never enters reports zeros. */
object Layers {
  val spanNames: Seq[String] = Seq(
    "etl.featurize",
    "ml.select_k", "ml.kmeans_eval", "ml.als_cv", "ml.als_refit",
    "eval.rmse",
    "sources.insert", "sources.merge", "sources.update", "sources.delete",
    "sources.scan", "sources.point", "sources.compact",
    "operators.normalized_dedup", "operators.exact_content",
    "operators.minhash_pairs", "operators.containment")
  val base: Seq[String] =
    Seq("self_s", "jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "gc_s")
  private val withCoreUtil = Set("ml.select_k", "ml.als_cv") ++
    spanNames.filter(_.startsWith("operators."))

  def counters(span: String): Seq[String] =
    base ++
      (if (span.startsWith("sources.")) Seq("catalyst_ms", "manifest_reads") else Nil) ++
      (if (withCoreUtil(span)) Seq("core_util") else Nil)

  /** Workload-level counters; each workload fills the ones it drives. */
  val workloadCounters: Seq[String] = Seq(
    "codegen.compilations", "jvm.peak_rss_mb",
    "sources.files_live", "sources.write_amp",
    "ml.als_cv.s_per_fit", "operators.minhash_recall")

  def report(t: Tracer): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    val perSpan = spanNames.flatMap { name =>
      val ss = t.spans.filter(s => s.name == name && s.endNs > 0).toSeq
      val n = ss.size.max(1)
      counters(name).map { c =>
        val v =
          if (c == "core_util") {
            val wall = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
            if (wall > 0) ss.map(_.counters("exec_run_s")).sum / (wall * cores) else 0.0
          } else ss.map(_.counters(c)).sum / n
        s"$name.$c" -> v
      }
    }
    workloadCounters.map(_ -> 0.0).toMap ++ perSpan
  }
}
