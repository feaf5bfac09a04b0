package graft

import org.apache.spark.sql.SparkSession

/** Shared JVM warm-up for the entry-point mains (Bench, Verify, and
  * Dev's `run` and `time`), so TIMED queries measure steady state, not
  * one-time costs — parquet reader init, whole-stage codegen, and C2 JIT
  * of the kernel loops. Two stages:
  *
  *  1. bounded kernel slice on `sfDir` itself (scan paths + the dedup
  *     kernels on 64 docs) — always runs;
  *  2. one untimed pass over EVERY driver entry at a small sibling
  *     scale factor (`sf0.01` next to `sfDir`, falling back to
  *     `sf0.001`; skipped when absent or when it IS `sfDir`). The
  *     sibling plans compile the same generated classes as the timed
  *     run (schema-identical), so per-entry janino compiles and kernel
  *     JIT (the measured 0.1 s warm vs 2.6 s cold gap on the MinHash
  *     build) are paid here, once, instead of inside whichever timed
  *     entry happens to touch each code path first. sf0.01 rather than
  *     sf0.001 because C2 compilation needs ~10k trips through a loop
  *     before it kicks in — sf0.001's ~50-doc corpus leaves the kernel
  *     loops interpreted, sf0.01's ~500 docs × ~54 tokens clear the
  *     threshold. Session caches key on the dataset dir, so the
  *     sibling pass can never leak RESULTS into the timed run — only
  *     compiled code.
  *
  * This is the round-2/3 steady-state convention (which removed the
  * r1 1.2 s first-query floor) extended to the full query surface; the
  * measurement convention is documented in COVERAGE.md.
  */
object Warmup {
  def run(spark: SparkSession, sfDir: String): Unit = {
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/orders.parquet").count()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(64).cache()
      docs.count()
      text.DedupJobs.minhashCandidatePairs(docs, "doc_id", "text",
        cacheKey = Some("__warm_minhash")).count()
      text.DedupJobs.ngramJaccardPairs(docs, "doc_id", "text",
        Seq("lang"), 2, 0.8, cacheKey = Some("__warm_ngram")).count()
      text.DedupJobs.simhashNearDups(docs, "doc_id", "text",
        maxHamming = 3).count()
      docs.unpersist()
    } catch {
      // The only expected failure is a missing/foreign sfDir
      // (PATH_NOT_FOUND); anything else should surface.
      case _: org.apache.spark.sql.AnalysisException => ()
    }
    fullSurfaceWarm(spark, sfDir)
  }

  /** Stage 2: every entry once at a small sibling sf dir. Per-entry
    * failures are reported by name, never thrown — warm-up must not
    * fail a run over a foreign directory layout.
    */
  private def fullSurfaceWarm(spark: SparkSession, sfDir: String): Unit = {
    val self = new java.io.File(sfDir).getAbsoluteFile
    val small = Seq("sf0.01", "sf0.001")
      .map(n => new java.io.File(self.getParentFile, n))
      .find(f => f.isDirectory && f.getAbsolutePath != self.getAbsolutePath)
      .getOrElse(return)
    val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // Warm with the same materialization the timed run uses, so every
      // entry's codegen compiles here and not inside its first timed rep.
      try {
        GraftSession.inJobGroup(spark, name) {
          GraftSession.noopWrite(fn(spark, small.getAbsolutePath))
        }
        None
      } catch { case scala.util.control.NonFatal(_) => Some(name) }
    }
    if (failed.nonEmpty)
      System.err.println(s"Warmup: ${failed.size} entries failed on $small: " +
        failed.mkString(", "))
  }
}
