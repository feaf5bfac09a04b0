package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one SparkSession builder for graft's mains (Bench, Verify, Dev),
  * plus the helpers they share. The oracle verifies the exact
  * planner config the bench times, so a join-strategy bug fails verify
  * instead of only showing up as a bench anomaly.
  */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(4)

  /** SQL settings every graft session carries, all runtime-settable.
    *
    * - UTC session time zone.
    * - ANSI off: DuckDB/pandas parity (null on a bad cast, no
    *   division-by-zero error), which the oracle compare relies on.
    * - `preferSortMergeJoin=false` allows shuffled-hash joins where the
    *   planner's size conditions fit (measured 5-12% on the join-heavy
    *   graph entries). Sort-merge stays the fallback and AQE still
    *   upgrades small sides to broadcast; this removes the blanket
    *   prefer-sort bias and is not a local-core-count tune. Skew caveat:
    *   a skewed build-side partition can OOM a shuffled-hash join where
    *   sort-merge would spill. The guard is AQE skew-join splitting, on
    *   by default whenever AQE is (PlanAuditSpec pins that this session
    *   keeps both on), plus the planner's own size conditions. At
    *   100 TB, prefer per-join SHUFFLE_HASH hints over this default if
    *   any build side can be skew-heavy.
    * - `events.parquet` carries TIMESTAMP(NANOS): read as long, converted
    *   in [[Tables.events]].
    */
  val sqlConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A `local[cpus]` session with one shuffle partition per core, no UI,
    * [[sqlConf]] applied, and logging at WARN.
    */
  def create(cpus: Int = defaultCpus): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    val spark = sqlConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with every Spark job it starts in job group `entry`
    * (group id and description both `entry`), so each job traces back
    * to the entry that ran it. The group is cleared afterwards, also
    * when `body` throws.
    */
  def inJobGroup[T](spark: SparkSession, entry: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(entry, entry)
    try body finally sc.clearJobGroup()
  }

  /** Materialize every row and column of `df` into Spark's noop sink.
    * Timing or warming an entry needs this, not `count()`: under a bare
    * count Catalyst prunes unreferenced columns and aggregate functions,
    * so a scoring kernel inside `agg(min(...))` or a map-only column
    * never runs.
    */
  def noopWrite(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** `s` as a JSON string literal. Quote, backslash and every control
    * character (< 0x20) are escaped: one raw tab or newline in an
    * embedded string makes the whole document unparseable.
    */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
