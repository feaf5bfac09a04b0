package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run measured, before it is turned into the result file. */
final class Sheet {
  var setupS = 0.0
  /** The steps of one cycle of the workload. */
  var steps: Seq[Step] = Nil
  var storeBytesPerRow = 0.0
  var reportHashes: Map[String, String] = Map.empty
  var indexRoot: File = null
  var window: Window = null
  var storesAtTimedStart, storesAfter = Set.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))
}

/** The timed window of a run and its fixed-size prefix. Per-layer
  * counters come from the prefix: the same seed runs the same prefix
  * operations, so its counts repeat exactly however fast the machine is.
  */
final class Window(h: Harness, sheet: Sheet) {
  private def sc = h.spark.sparkContext
  private var t0, tPrefix = 0L
  private var c0, cPrefix: Map[String, Counters] = null
  private var op0, opPrefix = 0
  sheet.window = this

  private var host0: HostStamp = null

  def start(): Unit = {
    sheet.storesAtTimedStart = Stores.list(sheet.indexRoot)
    c0 = h.probe.snapshot(sc); op0 = h.opCount; t0 = System.nanoTime()
    host0 = HostClock.now()
  }

  def prefixEnd(): Unit = {
    tPrefix = System.nanoTime(); cPrefix = h.probe.snapshot(sc); opPrefix = h.opCount
  }

  def end(): Unit = {
    if (cPrefix == null) prefixEnd()
    val host1 = HostClock.now()
    val share = HostClock.stealShare(host0, host1)
    sheet.layer("host.steal_share", share, "ratio")
    Util.log(f"timed window: wall ${(host1.ns - host0.ns) / 1e9}%.2f s, " +
      f"steal share $share%.4f, process CPU ${(host1.procTicks - host0.procTicks) / 100.0}%.2f s")
    sheet.storesAfter = Stores.list(sheet.indexRoot)
  }

  def prefixLayers: Map[String, Counters] = Probe.diff(cPrefix, c0)
  def prefixRange: (Int, Int) = (op0, opPrefix)
  def prefixSeconds: Double = (tPrefix - t0) / 1e9
}

object Main {
  val Workloads = Seq("claims", "operator-surface", "warmup")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = new File(arg(args, "work")).getAbsoluteFile
    val inputs = new File(arg(args, "inputs")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()

    val indexRoot = new File(work, "index")
    indexRoot.mkdirs()
    System.setProperty("graft.index.root", indexRoot.getPath)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val h = new Harness(spark, probe, trace)
    val sheet = new Sheet
    sheet.indexRoot = indexRoot
    val storesBefore = Stores.list(indexRoot)
    workload match {
      case "claims" =>
        Claims.workload(h, ClaimsInputs.load(inputs), work, seconds, sheet)
      case "operator-surface" =>
        Surface.workload(h, inputs, work, seconds, sheet)
      case "warmup" =>
        Claims.warmup(h, new File(inputs, "month.csv"), work)
        spark.stop()
        return
    }
    val rss = Util.peakRssMb()
    sheet.layer("stores.cold_in_timed",
      (sheet.storesAfter -- sheet.storesAtTimedStart).size.toDouble, "count")
    Metrics.fill(sheet, h, sheet.window, cores)
    if (trace) h.writeTrace(new File(work, "trace.json"))

    // A step whose every attempt failed has no time; the cycle figures
    // then cover the remaining steps and the failure shows in `failed`.
    val done = sheet.steps.filter(_.seconds.nonEmpty)
    val e2e = Seq(
      ("setup_s", sheet.setupS, "s"),
      ("cycle_s", done.map(st => Util.median(st.seconds) * st.perCycle).sum, "s"),
      ("store_bytes_per_row", sheet.storeBytesPerRow, "bytes"),
      ("peak_rss_mb", rss, "MB"))
    def metricJson(xs: Seq[(String, Double, String)]): String =
      xs.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val correct = sheet.checks.forall(_._2)
    val out = new StringBuilder
    out ++= "{"
    out ++= s""""correct":$correct,"attempted":${h.attempted},"failed":${h.failed},"""
    out ++= s""""end_to_end":${metricJson(e2e)},"""
    out ++= s""""per_layer":${metricJson(Metrics.ordered(sheet))},"""
    out ++= s""""failures":${Json.arr(h.failures.toSeq)},"""
    out ++= s""""checks":[${sheet.checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString(",")}],"""
    out ++= s""""report_hashes":{${sheet.reportHashes.toSeq.sorted.map { case (k, v) =>
      s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")}},"""
    out ++= s""""ops":{${h.ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:${v.count(_.ok)}" }.mkString(",")}},"""
    out ++= s""""session_s":${Json.num(sessionS)},"cores":$cores,"stores_before":${storesBefore.size}"""
    out ++= "}\n"
    Util.write(new File(work, "result.json"), out.toString)
    spark.stop()
  }
}

object Stores {
  /** Top-level store directories under an index root. */
  def list(root: File): Set[String] =
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory).map(_.getName).toSet
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}

/** A moment on the wall clock with the host's CPU accounting at it, in
  * /proc clock ticks: CPU time the guest ran, CPU time the hypervisor
  * gave to other guests while this one's threads were ready to run
  * (steal), and this process's own CPU time.
  */
final case class HostStamp(ns: Long, busyTicks: Long, stealTicks: Long, procTicks: Long)

/** Times corrected for CPU time stolen by the host. On a shared host the
  * same run can take half as long again when other guests are busy; most
  * of that shows as steal, while the run's own CPU time moves far less.
  */
object HostClock {
  def now(): HostStamp = {
    // cpu  user nice system idle iowait irq softirq steal ...
    val cpu = Util.firstLine("/proc/stat").split("\\s+").drop(1).map(_.toLong)
    // utime and stime are fields 14 and 15; the fields after "(comm) " start at 3.
    val stat = Util.firstLine("/proc/self/stat")
    val f = stat.substring(stat.lastIndexOf(") ") + 2).split(" ")
    HostStamp(System.nanoTime(), cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6), cpu(7),
      f(11).toLong + f(12).toLong)
  }

  /** Share of the CPU time this guest asked for between `a` and `b` that
    * the host gave to other guests.
    */
  def stealShare(a: HostStamp, b: HostStamp): Double = {
    val steal = b.stealTicks - a.stealTicks
    val demanded = b.busyTicks - a.busyTicks + steal
    if (demanded > 0) steal.toDouble / demanded else 0.0
  }

  /** Wall seconds from `a` to `b` less the stolen share: what the interval
    * would have taken had no CPU been stolen, if the stolen time fell
    * evenly on every thread. Stolen time on the critical path costs more,
    * so this under-corrects in heavy steal.
    */
  def seconds(a: HostStamp, b: HostStamp): Double =
    (b.ns - a.ns) / 1e9 * (1.0 - stealShare(a, b))
}
