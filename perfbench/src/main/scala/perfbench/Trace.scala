package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work Spark did for one span, filled in by the listener. */
final class SpanWork {
  var jobs = 0
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** One timed call into the program. `work` and the written-file
  * counts are present only when the call ran traced.
  */
final case class Sample(layer: String, round: Int, startMs: Long,
    wallS: Double,
    gcS: Double, work: Option[SpanWork], bytesWritten: Long,
    filesWritten: Long, cachedBytes: Long) {

  /** Rows or documents the call handled, set by the workload. */
  var units = 0L

  def traced: Boolean = work.isDefined

  /** Span wall time not covered by any of its jobs, in seconds. */
  def driverS: Double = work.map { w =>
    val end = startMs + math.round(wallS * 1000.0)
    Stats.selfTime(startMs, end, w.jobIntervals.toSeq) / 1000.0
  }.getOrElse(0.0)
}

/** Times calls into the program's public API. With tracing attached,
  * each call is also a span: a benchmark-registered SparkListener
  * attributes the jobs and tasks it runs (through a local property that
  * Spark copies onto every job the calling thread, or a thread it
  * starts, submits), and listings of the watched directory before and
  * after give the bytes and files it wrote. Spans are kept in memory
  * and read at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val work = new ConcurrentHashMap[Long, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]()
  private var nextSpan = 0L
  private var attachedNow = false
  /** Loop round the next samples belong to. */
  var round = 0
  val samples = ArrayBuffer.empty[Sample]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach { s =>
          val span = s.toLong
          e.stageIds.foreach(st => stageSpan.put(st, span))
          jobSpan.put(e.jobId, (span, e.time))
          val w = work.get(span)
          if (w != null) w.synchronized { w.jobs += 1 }
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (span, t0) =>
        val w = work.get(span)
        if (w != null) w.synchronized { w.jobIntervals += ((t0, e.time)) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val span = stageSpan.get(e.stageId)
      val w = if (m == null) null else work.get(span)
      if (w != null) w.synchronized {
        w.taskMs += m.executorRunTime
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRecords += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def attached: Boolean = attachedNow

  /** Attach or detach the listener; detaching first delivers every
    * pending event so no span loses work.
    */
  def attach(on: Boolean): Unit = if (on != attachedNow) {
    if (on) sc.addSparkListener(listener)
    else { PerfbenchBus.drain(sc); sc.removeSparkListener(listener) }
    attachedNow = on
  }

  /** Run `f` as one timed call of `layer`. Directory listings and the
    * cached-bytes probe happen outside the timed region.
    */
  def op[T](layer: String, watch: Option[Path] = None)(f: => T): T = {
    val before = if (attachedNow) watch.map(Tracer.listing) else None
    val w = if (attachedNow) Some(new SpanWork) else None
    val span = nextSpan
    nextSpan += 1
    w.foreach { x =>
      work.put(span, x)
      sc.setLocalProperty(Key, span.toString)
    }
    val gc0 = Tracer.gcMs()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try f
      finally if (w.isDefined) sc.setLocalProperty(Key, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = (Tracer.gcMs() - gc0) / 1000.0
    val (bytes, files) = before.map { b =>
      val a = Tracer.listing(watch.get)
      val fresh = a.filter { case (p, sz) => !b.get(p).contains(sz) }
      (fresh.values.sum, fresh.size.toLong)
    }.getOrElse((0L, 0L))
    val cached = if (attachedNow) Tracer.cachedBytes(spark) else 0L
    samples += Sample(layer, round, startMs, wall, gc, w, bytes, files, cached)
    out
  }

  /** Record how many rows or documents the last call handled. */
  def count(n: Long): Unit = samples.last.units = n
}

object Tracer {

  /** Regular files under `dir` with their sizes. */
  def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }

  def dirBytes(dir: Path): Long = listing(dir).values.sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Bytes held by persisted RDDs and cached query results. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum

  /** Old-generation bytes in use right after a full collection. The
    * first collection lets Spark's context cleaner drop the broadcast
    * and shuffle state of unreachable datasets; the second one, after
    * the cleaner has had time to run, frees it.
    */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed)
      .getOrElse {
        val rt = Runtime.getRuntime
        rt.totalMemory() - rt.freeMemory()
      }
  }
}
