package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark work counters of one layer. */
final class Counters {
  var jobs, stages, tasks = 0L
  var busyNs = 0L // Σ wall time of the layer's jobs
  var runMs, cpuNs, gcMs = 0L
  var inRows, inBytes, outBytes = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var peakExecMem = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; busyNs += o.busyNs
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inRows += o.inRows; inBytes += o.inBytes
    outBytes += o.outBytes
    shuffleBytes += o.shuffleBytes; shuffleRecords += o.shuffleRecords
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def -(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks; c.busyNs -= o.busyNs
    c.runMs -= o.runMs; c.cpuNs -= o.cpuNs; c.gcMs -= o.gcMs
    c.inRows -= o.inRows; c.inBytes -= o.inBytes
    c.outBytes -= o.outBytes
    c.shuffleBytes -= o.shuffleBytes; c.shuffleRecords -= o.shuffleRecords
    c.spillBytes -= o.spillBytes
    c
  }

  def copy(): Counters = { val c = new Counters; c += this; c }

  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"busy_s":${busyNs / 1e9},""" +
      s""""run_s":${runMs / 1e3},"cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3},""" +
      s""""input_rows":$inRows,"input_bytes":$inBytes,"bytes_written":$outBytes,""" +
      s""""shuffle_bytes":$shuffleBytes,"shuffle_records":$shuffleRecords,""" +
      s""""spill_bytes":$spillBytes,"peak_exec_mem":$peakExecMem}"""
}

/** A SparkListener that attributes every job to a layer and sums its
  * task metrics there.
  *
  * The layer is the local property [[Probe.LayerKey]] that the harness
  * sets around each public call (so a job belongs to the innermost open
  * span). Jobs run inside `UploadFlow.run` are attributed one level
  * deeper, to the library file in the job's Spark call site.
  */
final class Probe extends SparkListener {
  private val layers = mutable.Map.empty[String, Counters]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val execSite = mutable.Map.empty[Long, String]

  private def at(layer: String): Counters = layers.getOrElseUpdate(layer, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty(Probe.LayerKey)))
      .getOrElse("unattributed")
    // AQE submits query-stage jobs from its own threads, whose call site
    // names no library frame; the SQL execution they belong to does.
    val callSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse("")
    val layer = Probe.refine(label, callSite)
    e.stageIds.foreach(stageLayer(_) = layer)
    jobStart(e.jobId) = (layer, e.time)
    at(layer).jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execSite(x.executionId) = x.description + "\n" + x.details)
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized(execSite.remove(x.executionId))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (layer, t0) =>
      at(layer).busyNs += (e.time - t0) * 1000000L
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageLayer.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageLayer.getOrElse(e.stageId, "unattributed"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inRows += m.inputMetrics.recordsRead
      c.inBytes += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Per-layer counters after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Map[String, Counters] = {
    BenchBus.drain(sc)
    synchronized(layers.map { case (k, v) => k -> v.copy() }.toMap)
  }
}

object Probe {
  val LayerKey = "graftbench.layer"

  /** Library files whose jobs form a layer of their own inside the upload
    * flow. `Checkpoint` pins the prepared batch, i.e. runs the ETL.
    */
  private val flowFiles = Seq(
    "ClaimsEtl.scala" -> "claims.etl",
    "Checkpoint.scala" -> "claims.etl",
    "HubStore.scala" -> "claims.hub",
    "SeriesCounts.scala" -> "claims.counts",
    "SeriesMart.scala" -> "claims.mart")

  /** The innermost library frame of the call site decides. */
  def refine(label: String, callSite: String): String =
    if (label != "claims.flow") label
    else {
      val hits = flowFiles.flatMap { case (f, l) =>
        val i = callSite.indexOf(f); if (i >= 0) Some(i -> l) else None }
      if (hits.isEmpty) label else hits.minBy(_._1)._2
    }

  def diff(after: Map[String, Counters], before: Map[String, Counters])
      : Map[String, Counters] =
    after.map { case (k, v) => k -> before.get(k).map(v - _).getOrElse(v.copy()) }

  def sum(cs: Iterable[Counters]): Counters = {
    val t = new Counters
    cs.foreach(t += _)
    t
  }
}
