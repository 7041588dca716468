package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Sums of task metrics, job starts and cached-block bytes over one time
  * window. */
final case class Window(taskS: Double, shuffleMb: Double, spillMb: Double,
    writtenMb: Double, jobs: Int, cachePeakMb: Double)

/** Listener-side probes of one session, read from outside the program.
  *
  * Task, job and cached-block events are kept in memory with their wall-clock
  * times, so the metrics of any span can be summed afterwards by its window
  * (spans run one at a time, and the program's own thread pools do not carry
  * the caller's job group). Streaming progress events are kept whole. */
final class Probes(spark: SparkSession) extends SparkListener {
  import Probes.TaskRec

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStarts = ArrayBuffer.empty[Long]
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var peak = 0L
  // (wall ms, cached bytes) after every block update
  private val cacheSeries = ArrayBuffer.empty[(Long, Long)]
  private val progress = ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.taskInfo.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val name = i.blockId.name
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cached += size - blocks.getOrElse(name, 0L)
      if (size == 0L) blocks.remove(name) else blocks(name) = size
      peak = math.max(peak, cached)
      cacheSeries += ((System.currentTimeMillis(), cached))
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized { progress += e.progress.durationMs }
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)

  /** Restart the peak of cached bytes from the bytes cached now. */
  def resetPeak(): Unit = { drain(); synchronized { peak = cached } }

  def peakMb: Double = { drain(); synchronized(peak / 1e6) }

  /** Cached bytes now, in MB. */
  def cachedMb: Double = { drain(); synchronized(cached / 1e6) }

  def window(fromMs: Long, toMs: Long): Window = {
    drain()
    synchronized {
      val ts = tasks.filter(t => t.end >= fromMs && t.end <= toMs)
      val before = cacheSeries.takeWhile(_._1 < fromMs).lastOption.map(_._2).getOrElse(0L)
      val inside = cacheSeries.filter(c => c._1 >= fromMs && c._1 <= toMs).map(_._2)
      Window(
        taskS = ts.map(_.runMs).sum / 1e3,
        shuffleMb = ts.map(_.shuffleW).sum / 1e6,
        spillMb = ts.map(_.spill).sum / 1e6,
        writtenMb = ts.map(_.written).sum / 1e6,
        jobs = jobStarts.count(j => j >= fromMs && j <= toMs),
        cachePeakMb = (before +: inside.toSeq).max / 1e6)
    }
  }

  /** Duration maps of the streaming progress events received so far. */
  def progressEvents: Seq[Map[String, Long]] = {
    drain()
    synchronized {
      progress.toSeq.map { m =>
        val b = Map.newBuilder[String, Long]
        m.forEach((k, v) => b += k -> v.longValue())
        b.result()
      }
    }
  }

  /** Garbage-collection time of this JVM so far, in seconds. */
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }
}

object Probes {
  private final case class TaskRec(end: Long, runMs: Long, shuffleW: Long,
      spill: Long, written: Long)
}
