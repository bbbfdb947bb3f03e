package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.BlockId

/** Spark-side measurement, all from outside the program: one listener that
  * (a) follows block-manager storage memory from block updates, for the
  * storage high-water mark, and (b) rolls task metrics up per named span.
  *
  * A span names a layer (a module of the program) and wraps the benchmark's
  * own call into it; it sets the Spark job group, so every job the call
  * launches carries the layer's name. Jobs started on threads that did not
  * inherit the group (the program runs some actions on a shared pool) are
  * given to the span that was open when they started: the benchmark issues
  * one call at a time, so that is the span that caused them.
  */
final class Trace(sc: SparkContext) extends SparkListener {

  // ---- storage memory -------------------------------------------------

  private val blockMem = mutable.HashMap.empty[BlockId, Long]
  private var storageNow = 0L
  /** Blocks resident when the window opened, left out of its count: their
    * release is asynchronous (context cleaner) and would otherwise make the
    * window's figure depend on timing. */
  private var preexisting = Set.empty[BlockId]
  private var windowNow = 0L
  private var windowPeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val mem = if (info.storageLevel.isValid) info.memSize else 0L
    val delta = mem - blockMem.getOrElse(info.blockId, 0L)
    storageNow += delta
    if (mem > 0) blockMem(info.blockId) = mem else blockMem.remove(info.blockId)
    if (!preexisting(info.blockId)) {
      windowNow += delta
      windowPeak = math.max(windowPeak, windowNow)
    }
    spanStack.foreach(s => s.peak = math.max(s.peak, storageNow - s.storageAtStart))
  }

  /** Waits until every event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.BenchShim.drainListeners(sc)

  /** Opens a storage window: blocks stored from now on are counted. */
  def storageMark(): Unit = {
    drain()
    synchronized { preexisting = blockMem.keySet.toSet; windowNow = 0L; windowPeak = 0L }
  }

  /** The most memory that blocks stored since the mark held at once. */
  def storagePeakSinceMark(): Long = { drain(); synchronized(windowPeak) }

  // ---- spans ----------------------------------------------------------

  private final class Open(val layer: String, val t0: Long, val storageAtStart: Long) {
    var peak = 0L
    var childNs = 0L
  }
  private val spanStack = mutable.Stack.empty[Open]
  val layers = mutable.LinkedHashMap.empty[String, LayerStats]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  def stats(layer: String): LayerStats = synchronized(layers.getOrElseUpdate(layer, new LayerStats))

  def reset(): Unit = { drain(); synchronized(layers.clear()) }

  /** Runs `body` as a span of `layer`; nested spans subtract from the
    * enclosing span's self time. */
  def span[T](layer: String)(body: => T): T = {
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    drain()
    val open = synchronized {
      layers.getOrElseUpdate(layer, new LayerStats)
      val o = new Open(layer, System.nanoTime(), storageNow)
      spanStack.push(o); o
    }
    sc.setJobGroup(layer, s"perfbench $layer")
    try body
    finally {
      drain()
      val ns = System.nanoTime() - open.t0
      synchronized {
        spanStack.pop()
        if (spanStack.nonEmpty) spanStack.top.childNs += ns
        val st = layers.getOrElseUpdate(layer, new LayerStats)
        st.wallNs += ns - open.childNs
        st.storagePeak = math.max(st.storagePeak, open.peak)
      }
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def count(layer: String, key: String, v: Double): Unit =
    synchronized { val c = stats(layer).counts; c(key) = c.getOrElse(key, 0.0) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = spanStack.headOption.map(_.layer).getOrElse(Trace.Unattributed)
    val st = layers.getOrElseUpdate(layer, new LayerStats)
    st.jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val layer = stageLayer.getOrElse(e.stageId, Trace.Unattributed)
    val st = layers.getOrElseUpdate(layer, new LayerStats)
    if (e.taskInfo.successful) {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration * 1000000L
      val m = e.taskMetrics
      if (m != null) {
        st.tasks += 1
        st.taskNs += m.executorRunTime * 1000000L
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
        st.peakTaskMem = math.max(st.peakTaskMem, m.peakExecutionMemory)
      }
    } else st.failedTasks += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val layer = stageLayer.getOrElse(id, Trace.Unattributed)
    val st = layers.getOrElseUpdate(layer, new LayerStats)
    st.stages += 1
    stageTasks.remove(id).filter(_.nonEmpty).foreach { ts =>
      st.maxTaskNsSum += ts.max.toDouble
      st.meanTaskNsSum += ts.sum.toDouble / ts.size
    }
  }
}

object Trace {
  /** Where jobs started outside any span are counted. */
  val Unattributed = "unattributed"
  /** Driver time and jobs of a traced job outside every layer's span. */
  val Outside = "outside layers"
  /** Checking and counting a job's output afterwards; not part of the job. */
  val AfterJob = "after job"
  val Unnamed = Set(Unattributed, Outside, AfterJob)
}

/** One layer's roll-up over a traced job. */
final class LayerStats {
  var wallNs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var storagePeak = 0L
  var peakTaskMem = 0L
  var failedTasks = 0
  /** Σ over stages of (slowest task time) and of (mean task time): their
    * ratio is the layer's task skew, weighted by stage size. */
  var maxTaskNsSum = 0.0
  var meanTaskNsSum = 0.0
  val counts = mutable.LinkedHashMap.empty[String, Double]
  def skew: Double = if (meanTaskNsSum > 0) maxTaskNsSum / meanTaskNsSum else 1.0
}
