package e2ebench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval, in epoch microseconds. `tag` names the op or
  * reader query it belongs to (`op:3`, `read:3`); `kind` is "op", "read",
  * "layer" or "job"; `parent` is 0 for an op or read span, and -1 when
  * the parent is resolved afterwards by time containment (layer spans
  * built from Loader events, and every job). */
final case class Span(id: Long, parent: Long, tag: String, name: String,
    kind: String, startUs: Long, endUs: Long,
    counts: Seq[(String, Long)] = Nil)

/** One Spark job as the traced run saw it, with its tasks' totals. */
final class JobRec(val id: Int, val tag: String, val callSite: String,
    val startUs: Long, val checkpoint: Boolean) {
  var endUs: Long = -1
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's tracing: spans kept in memory and written out at exit,
  * plus Spark job, task and streaming-progress accounting. Every Spark
  * job submitted inside [[op]] carries the local property [[TagProperty]],
  * so the listeners attribute it to that op. The listeners are attached
  * only while a traced op runs; outside one, [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val TagProperty = "e2ebench.tag"
  private val sc = spark.sparkContext
  private val epochUs0 = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch microseconds, read from the monotonic clock. */
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var tag = ""
  private var active = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** Streaming progress `durationMs` maps, by op tag. */
  val progress = mutable.HashMap.empty[String, mutable.ArrayBuffer[Map[String, Long]]]

  private def newId(): Long = { val i = nextId; nextId += 1; i }

  /** Runs `body` as op `i` of `kind` ("op" or "read"): tags its Spark
    * jobs and, when `traced`, records its span and listens to Spark. */
  def op[T](i: Int, kind: String, traced: Boolean)(body: => T): T = {
    tag = s"$kind:$i"
    sc.setLocalProperty(TagProperty, tag)
    if (!traced) try body finally sc.setLocalProperty(TagProperty, null)
    else {
      sc.addSparkListener(listener)
      spark.streams.addListener(streamListener)
      active = true
      val id = newId()
      val s = nowUs
      stack = id :: Nil
      try body
      finally {
        spans += Span(id, 0, tag, kind, kind, s, nowUs)
        stack = Nil
        active = false
        sc.setLocalProperty(TagProperty, null)
        org.apache.spark.graftshim.GraftScheduler.drainListenerBus(sc)
        sc.removeSparkListener(listener)
        spark.streams.removeListener(streamListener)
      }
    }
  }

  /** A layer span around a call into one of the program's modules. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId()
      val parent = stack.head
      val s = nowUs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, tag, name, "layer", s, nowUs)
      }
    }

  /** A layer span whose bounds come from events rather than a call. */
  def record(name: String, startUs: Long, endUs: Long): Unit =
    if (active) spans += Span(newId(), -1, tag, name, "layer", startUs, endUs)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val t = props.flatMap(p => Option(p.getProperty(TagProperty))).getOrElse("")
      // The result stage is named after the job's call site. A checkpoint
      // job materialises a persisted RDD: the last RDD of its result
      // stage has a storage level (jobs inside a stream all carry the
      // stream's call site, so the call site cannot tell).
      val result = e.stageInfos.sortBy(-_.stageId).headOption
      val site = result.map(_.name).getOrElse("")
      val last = result.map(_.rddInfos).getOrElse(Nil)
      val checkpoint = last.nonEmpty && last.maxBy(_.id).storageLevel.isValid
      val j = new JobRec(e.jobId, t, site, e.time * 1000, checkpoint)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) +=
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }

  /** Writes every span, jobs included, one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val jobSpans = jobs.values.toSeq.filter(_.tag.nonEmpty).map { j =>
      Span(-j.id.toLong - 1, -1, j.tag, s"job:${j.callSite}", "job",
        j.startUs, if (j.endUs < 0) j.startUs else j.endUs,
        Seq("stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
          "input_bytes" -> j.inputBytes, "shuffle_bytes" -> j.shuffleBytes,
          "spill_bytes" -> j.spillBytes, "checkpoint" -> (if (j.checkpoint) 1L else 0L)))
    }
    val lines = (spans.toSeq ++ jobSpans).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "tag" -> s.tag,
        "name" -> s.name, "kind" -> s.kind, "start_us" -> s.startUs,
        "end_us" -> s.endUs) ++ s.counts)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Total GC time of this JVM so far, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** This process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
