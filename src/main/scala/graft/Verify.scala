package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional name filter (dev convenience): trailing args restrict the
    // dump AND the emitted oracle_sql.json to those entries, so
    // scripts/selfcheck.py can gate a subset. The driver passes none.
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Session warmup so the first query's timing doesn't absorb
    // codegen/file-listing startup.
    Warmup.run(spark, sfDir)
    // Sorted like Bench so the per-entry timings are stable across
    // rounds (map order would arbitrarily reassign which entry of a
    // cache-sharing family pays the shared build).
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      val t0 = System.nanoTime()
      // repartition(1), NOT coalesce(1): coalesce merges the final
      // stage to one task, serializing every upstream computation that
      // lacks a shuffle boundary (the O(n²) pair kernels would run
      // single-threaded); repartition inserts the boundary so only the
      // file write is single-task.
      try {
        GraftSession.inJobGroup(spark, name) {
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        System.err.println(
          f"[verify] $name done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${GraftSession.jsonStr(k)}: ${GraftSession.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
