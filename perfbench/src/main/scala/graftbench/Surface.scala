package graftbench

import java.io.File

import org.apache.spark.sql.DataFrame

/** The operator surface: SparkEntry entries over the generated tables,
  * timed warm with a noop sink after a cold pass that builds the
  * persisted stores.
  */
object Surface {
  /** Entries timed per pass: the graph, text, curation and vector
    * modules that dominate the full surface, plus the cheapest entry of
    * the relational, window, event, linkage and hybrid modules. The other
    * six modules are left out to keep a run inside its time budget.
    */
  val Entries: Seq[String] = Seq(
    "q_agg_group_count", "q_window_rank_stats", "q_sessionize", "q_dedup_minhash",
    "q_decontaminate", "q_vector_ann", "q_linkage_nearest", "q_graph_pagerank",
    "q_hybrid_rrf")

  /** Warm passes every run makes, whatever `--seconds` says. A second pass
    * did not narrow the spread across runs, which host steal sets, and
    * would not fit the run budget.
    */
  val MinPasses = 1

  /** Audit entries run once after set-up; each must return no rows. */
  val Audits: Seq[String] = Seq("q_dedup_minhash_sound")

  private lazy val defs: Map[String, (String, graft.QueryDef)] =
    Metrics.OperatorModules.flatMap { case (m, mod) => mod.defs.map(d => d.name -> (m, d)) }.toMap

  def moduleOf(entry: String): String = defs(entry)._1

  private def frame(h: Harness, name: String, tables: String): DataFrame =
    defs(name)._2.fn(h.spark, tables)

  private def runNoop(h: Harness, name: String, tables: String): Unit =
    h.span(s"operators.${defs(name)._1}") {
      frame(h, name, tables).write.format("noop").mode("overwrite").save()
    }

  /** The cold pass keeps each oracle-checked entry's rows for the DuckDB
    * compare; repartition(1) adds only a single-task write stage.
    */
  private def runCold(h: Harness, name: String, tables: String, out: File): Unit =
    if (defs(name)._2.oracle.isEmpty) runNoop(h, name, tables)
    else h.span(s"operators.${defs(name)._1}") {
      frame(h, name, tables).repartition(1).write.mode("overwrite")
        .parquet(new File(out, name).getPath)
    }

  def workload(h: Harness, tablesDir: File, work: File, seconds: Double, sheet: Sheet): Unit = {
    val tables = tablesDir.getPath
    val missing = (Entries ++ Audits).filterNot(defs.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(", ")}")

    // Set-up: one cold pass against the empty per-run index root. It
    // builds the persisted stores the timed passes read and keeps each
    // oracle-checked entry's rows.
    val out = new File(work, "out")
    val t0 = HostClock.now()
    var building = 0.0
    for (e <- Entries) {
      val before = Stores.list(sheet.indexRoot)
      val te = HostClock.now()
      runCold(h, e, tables, out)
      if ((Stores.list(sheet.indexRoot) -- before).nonEmpty) building += HostClock.seconds(te, HostClock.now())
    }
    sheet.setupS = HostClock.seconds(t0, HostClock.now())
    sheet.layer("stores.build_s", building, "s")
    Util.log(f"cold pass ${sheet.setupS}%.2f s " +
      f"(store-building entries $building%.2f s)")

    for (a <- Audits) {
      val n = h.span(s"operators.${defs(a)._1}")(frame(h, a, tables).count())
      sheet.check(s"audit $a is empty", n == 0, s"$n rows")
    }

    val window = new Window(h, sheet)
    window.start()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      for (e <- Entries if pass < MinPasses || System.nanoTime() < deadline)
        h.op("entry", e)(runNoop(h, e, tables))
      if (pass == 0) window.prefixEnd()
      pass += 1
    }
    window.end()
    Util.log(s"timed window done: $pass warm passes")
    sheet.steps = Entries.map(e => h.step(e, "entry", Some(e), 1))

    // ---- correctness: the cold pass's outputs go to the DuckDB oracle
    // compare after the JVM exits; here only the stores' footprint.
    Util.write(new File(out, "oracle_sql.json"), Entries
      .flatMap(e => defs(e)._2.oracle.map(sql => s"${Json.str(e)}:${Json.str(sql)}"))
      .mkString("{", ",", "}"))
    val rows = h.spark.read.parquet(s"$tables/documents.parquet").count() +
      h.spark.read.parquet(s"$tables/embeddings.parquet").count()
    sheet.storeBytesPerRow = Util.du(sheet.indexRoot)._2.toDouble / rows
  }
}
