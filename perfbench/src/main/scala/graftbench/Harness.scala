package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One closed-loop client: operations, the spans around public calls,
  * failure accounting, and the per-run metric sheet.
  *
  * Spans are always timed (report-verb seconds come from them). With
  * `trace` on, the Spark counters are also read at every span boundary
  * and every span is kept for the trace file; that extra listener-bus
  * draining is the tracing overhead.
  */
final class Harness(val spark: SparkSession, val probe: Probe, val trace: Boolean) {

  final class Span(val id: Int, val layer: String, val parent: Int, val op: Int,
      val startNs: Long) {
    var endNs = 0L
    var counters: Counters = null
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Op(kind: String, name: String, seconds: Double, ok: Boolean)

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  private var open = List.empty[Span]
  private var opId = 0
  private var nextSpan = 0
  var attempted = 0L
  var failed = 0L

  private def sc = spark.sparkContext
  private def totals(): Counters = Probe.sum(probe.snapshot(sc).values)

  /** Run `body` as a span of `layer`: its jobs are attributed to it. */
  def span[T](layer: String)(body: => T): T = {
    val before = if (trace) totals() else null
    nextSpan += 1
    val s = new Span(nextSpan, layer,
      open.headOption.map(_.id).getOrElse(-1), opId, System.nanoTime())
    val prevLabel = sc.getLocalProperty(Probe.LayerKey)
    sc.setLocalProperty(Probe.LayerKey, layer)
    open = s :: open
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Probe.LayerKey, prevLabel)
      if (trace) s.counters = totals() - before
      spans += s
    }
  }

  /** One attempted operation. A throwing operation is counted as failed,
    * named, and contributes no time to any metric.
    */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    opId += 1
    val t0 = HostClock.now()
    try {
      val r = body
      val t1 = HostClock.now()
      val secs = HostClock.seconds(t0, t1)
      ops += Op(kind, name, secs, ok = true)
      Util.log(f"$kind $name $secs%.3f s (wall ${(t1.ns - t0.ns) / 1e9}%.3f s, " +
        f"steal ${100 * HostClock.stealShare(t0, t1)}%.1f%%)")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$kind/$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .linesIterator.take(1).mkString
        ops += Op(kind, name, 0.0, ok = false)
        None
    }
  }

  /** One cycle step: the successful operations of `kind` (and `name`). */
  def step(label: String, kind: String, name: Option[String], perCycle: Int): Step =
    Step(label, ops.filter(o => o.ok && o.kind == kind && name.forall(_ == o.name))
      .map(_.seconds).toSeq, perCycle)

  def spanSeconds(layer: String, fromOp: Int, toOp: Int): Seq[Double] =
    spans.filter(s => s.layer == layer && s.op > fromOp && s.op <= toOp)
      .map(_.seconds).toSeq

  def opCount: Int = opId

  /** Trace file: every span with its counters, plus per-layer self time
    * (span time minus the part covered by its child spans).
    */
  def writeTrace(file: File): Unit = {
    val children = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.layer -> (s.endNs - s.startNs - covered) / 1e9
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val sb = new StringBuilder
    sb ++= "{\"self_s\":{"
    sb ++= self.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    sb ++= "},\"spans\":[\n"
    sb ++= spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.layer}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":""" +
        Option(s.counters).map(_.toJson).getOrElse("null") + "}"
    }.mkString(",\n")
    sb ++= "\n]}\n"
    Util.write(file, sb.toString)
  }
}

/** A step of a workload cycle: its successful timings and how often it
  * occurs per cycle.
  */
final case class Step(name: String, seconds: Seq[Double], perCycle: Int)

object Util {

  private val t0 = System.nanoTime()
  def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%6.1f] $s")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def firstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.OutputStreamWriter(new java.io.FileOutputStream(f), "UTF-8")
    try w.write(s) finally w.close()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) of the regular files under `dir`; hidden checksum
    * and marker files included, as they are on disk.
    */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else if (dir.isFile) (if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)

  /** Peak resident set of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
    finally src.close()
  }

  def sha(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}
