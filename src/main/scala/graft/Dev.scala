package graft

import scala.util.control.NonFatal

/** Developer CLI over the query entries ([[SparkEntry.queries]]) on a
  * [[GraftSession]]. No entry names means every entry.
  *
  * {{{
  *   runMain graft.Dev run     <sfDir> [entry ...]
  *   runMain graft.Dev time    <sfDir> [reps] [entry ...]
  *   runMain graft.Dev explain <sfDir> [entry ...]
  * }}}
  *
  *  - `run` prints each entry's row count (and, with `SPARK_GRAFT_SHOW`
  *    set, results of at most 30 rows). It prints no time: `count()`
  *    lets Catalyst prune unreferenced columns and aggregates, so it
  *    can skip the very kernel an entry exists to run.
  *  - `time` times noop writes ([[GraftSession.noopWrite]], the
  *    materialization Bench times) with [[Bench.timeEntry]] (default 3
  *    reps; failed reps are never timings) and prints every successful
  *    rep's seconds and the min.
  *  - `explain` prints the formatted physical plan.
  *
  * `run` and `time` warm the session first ([[Warmup]]). Each entry runs
  * in its own job group ([[GraftSession.inJobGroup]]).
  */
object Dev {
  private val usage =
    "usage: graft.Dev run|time|explain <sfDir> [reps, time only] [entry ...]"

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    if (args.length < 2 || !Set("run", "time", "explain")(cmd)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val sfDir = args(1)
    val (reps, named) = args.drop(2).toSeq match {
      case r +: rest if cmd == "time" && r.toIntOption.isDefined =>
        (math.max(1, r.toInt), rest)
      case rest => (3, rest)
    }
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create()
    if (cmd != "explain") Warmup.run(spark, sfDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: UNKNOWN")
        case Some(fn) => GraftSession.inJobGroup(spark, name) {
          cmd match {
            case "run" =>
              try {
                val df = fn(spark, sfDir)
                val n = df.count()
                println(f"$name%-28s $n rows")
                if (sys.env.contains("SPARK_GRAFT_SHOW") && n <= 30) df.show(30, false)
              } catch { case NonFatal(e) => println(s"$name FAILED: $e") }
            case "time" =>
              val t = Bench.timeEntry(name,
                () => GraftSession.noopWrite(fn(spark, sfDir)), reps)
              val summary = t.best.fold("  ALL REPS FAILED") { b =>
                f"  min=$b%.2f" +
                  (if (t.failed) s" (over ${t.times.size} ok of $reps)" else "")
              }
              println(f"$name%-28s " + t.times.map(x => f"$x%.2f").mkString(" ") + summary)
            case "explain" =>
              println(s"\n===== $name =====")
              try fn(spark, sfDir).explain("formatted")
              catch { case NonFatal(e) => println(s"error: ${e.getMessage}") }
          }
        }
      }
    }
    spark.stop()
  }
}
