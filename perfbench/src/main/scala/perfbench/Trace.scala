package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One recorded span: a call into a layer, made from the benchmark. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      op: Int, start: Long, var end: Long = 0L) {
  def dur: Long = end - start
}

/** Spark work counted for one span (by job group). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputB = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecB = 0L

  /** The sum of two counts (the larger peak memory). */
  def plus(o: Work): Work = {
    val w = new Work
    w.jobs = jobs + o.jobs; w.stages = stages + o.stages; w.tasks = tasks + o.tasks
    w.failedTasks = failedTasks + o.failedTasks; w.runMs = runMs + o.runMs
    w.cpuNs = cpuNs + o.cpuNs; w.gcMs = gcMs + o.gcMs; w.inputB = inputB + o.inputB
    w.shuffleReadB = shuffleReadB + o.shuffleReadB
    w.shuffleWriteB = shuffleWriteB + o.shuffleWriteB; w.spillB = spillB + o.spillB
    w.peakExecB = math.max(peakExecB, o.peakExecB)
    w
  }
}

/** Records spans in memory and tags every Spark job with the innermost
  * open span through the job group, so the listener can attribute work
  * to spans even though its events arrive asynchronously. Spans are
  * written out once, when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1

  def beginOp(id: Int): Unit = currentOp = id

  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, layer, parent, currentOp, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.dur)
    spans.map(s => s.id -> (s.dur - childNs(s.id))).toMap
  }

  /** Spans with the Spark work the listener attributed to each. */
  def json(work: Int => Option[Work]): String = spans.map { s =>
    val w = work(s.id).getOrElse(new Work)
    s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"op":${s.op},"start_ns":${s.start},""" +
      s""""end_ns":${s.end},"jobs":${w.jobs},"tasks":${w.tasks},""" +
      s""""task_run_ms":${w.runMs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
}

/** The benchmark's own listener: Spark work per job group (span), block
  * updates of RDD blocks (checkpoints and persisted frames) and catalog
  * events on the listener bus. */
final class Meter extends SparkListener {
  val bySpan = mutable.Map.empty[Int, Work]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val blockSize = mutable.Map.empty[String, Long]
  var blocksWritten = 0L
  var blockBytesWritten = 0L
  var blockBytesLive = 0L
  var blockBytesPeak = 0L
  var catalogOps = 0L

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.Prefix))
      .map(_.stripPrefix(Tracer.Prefix).toInt).getOrElse(-1)

  private def work(span: Int): Option[Work] =
    if (span < 0) None else Some(bySpan.getOrElseUpdate(span, new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    e.stageIds.foreach(id => stageSpan(id) = span)
    work(span).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      work(stageSpan.getOrElse(e.stageInfo.stageId, -1)).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ws = work(stageSpan.getOrElse(e.stageId, -1))
    val m = e.taskMetrics
    ws.foreach { w =>
      w.tasks += 1
      if (e.reason != org.apache.spark.Success) w.failedTasks += 1
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.inputB += m.inputMetrics.bytesRead
        w.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillB += m.diskBytesSpilled
        w.peakExecB = math.max(w.peakExecB, m.peakExecutionMemory)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case b: RDDBlockId =>
          val key = b.name + "@" + info.blockManagerId.executorId
          val size = info.memSize + info.diskSize
          val prev = blockSize.getOrElse(key, 0L)
          if (size > 0 && prev == 0L) {
            blocksWritten += 1
            blockBytesWritten += size
          }
          if (size > 0) blockSize(key) = size else blockSize.remove(key)
          blockBytesLive += size - prev
          blockBytesPeak = math.max(blockBytesPeak, blockBytesLive)
        case _ =>
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    if (e.getClass.getName.startsWith("org.apache.spark.sql.catalyst.catalog."))
      catalogOps += 1
  }
}
