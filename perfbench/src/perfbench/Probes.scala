package perfbench

import graft.media.{MediaStore, OcrEngine, PageMedia}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.util.LongAccumulator

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Call counters for the media boundary of a distributed run. */
final case class MediaCounters(pageCount: LongAccumulator, page: LongAccumulator,
    ocr: LongAccumulator)

object MediaCounters {
  def apply(sc: SparkContext): MediaCounters =
    MediaCounters(sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
}

/** Counts `MediaStore` calls; passed to `Extract.run` through its `store`
  * parameter, so the skew probe, `plan` and `rawPages` all go through it. */
final class CountingStore(inner: MediaStore, c: MediaCounters) extends MediaStore {
  override def pageCount(mediaRef: String): Int = { c.pageCount.add(1); inner.pageCount(mediaRef) }
  override def page(mediaRef: String, pageNo: Int): PageMedia = { c.page.add(1); inner.page(mediaRef, pageNo) }
  override def byteEstimate(mediaRef: String): Long = inner.byteEstimate(mediaRef)
}

final class CountingOcr(inner: OcrEngine, c: MediaCounters) extends OcrEngine {
  override def recognize(media: PageMedia, passIdx: Int): String = {
    c.ocr.add(1)
    inner.recognize(media, passIdx)
  }
}

/** Metrics of one finished Spark task. Times in ms, sizes in bytes. */
final case class TaskRec(stageId: Int, runMs: Long, gcMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, outputBytes: Long,
    recordsWritten: Long, spillBytes: Long)

/** Collects every finished task; `take` returns and clears what the jobs
  * run since the last `take` produced. */
final class TaskLog extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def take(sc: SparkContext): Vector[TaskRec] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val out = tasks.asScala.toVector
    tasks.clear()
    out
  }
}
