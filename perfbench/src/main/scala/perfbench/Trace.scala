package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `opId` is shared by every span of
  * one operation; `parent` is the enclosing span (-1 at the root). */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
    layer: String, startNs: Long, endNs: Long)

/** Span recorder and engine counters for the traced run. Everything is kept
  * in memory and written out when the run ends; while `on` is false the
  * recorder and the listeners drop their input, which is how the traced run
  * interleaves untraced passes to measure its own overhead.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  var opId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, opId, name, layer, t0, System.nanoTime())
      }
    }

  // ---- engine counters (cumulative; read as differences) ----
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("spark.tasks", 1)
      add("spark.task_busy_ms", m.executorRunTime.toDouble)
      add("spark.gc_ms", m.jvmGCTime.toDouble)
      add("spark.shuffle_read_b",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.input_records", m.inputMetrics.recordsRead.toDouble)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val ph = qe.tracker.phases
        add("spark.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs.toDouble).sum)
        add("spark.queries", 1)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Trigger time of each streaming micro-batch, in arrival order. */
  val batchMs = mutable.ArrayBuffer.empty[Double]

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.trigger_ms", ms("triggerExecution"))
      add("streaming.addbatch_ms", ms("addBatch"))
      add("streaming.plan_ms", ms("queryPlanning"))
      add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
      add("streaming.rows", p.numInputRows.toDouble)
      batchMs.synchronized(batchMs += ms("triggerExecution"))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the asynchronous listener bus, then copy the counters. */
  def counters(): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    c.synchronized(c.toMap)
  }

  /** Cached-RDD ids and their total size in bytes (memory + disk). */
  def cacheState(): (Set[Int], Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(_.id).toSet, infos.map(i => i.memSize + i.diskSize).sum)
  }

  /** Bytes read from local files through Hadoop's FileSystem (the plist
    * source and parquet scans). */
  def fsBytesRead(): Long = localFs.map(_.getBytesRead).sum

  /** Bytes written through Hadoop's local FileSystem (tables, corpus trees,
    * streaming checkpoints). */
  def fsBytesWritten(): Long = localFs.map(_.getBytesWritten).sum

  private def localFs = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    all.filter(_.getScheme == "file").toSeq
  }
}

/** The largest heap in use right after a collection, over the run: the
  * live data plus what the collection left, which the program's memory use
  * moves while the fixed heap pins the process's RSS. */
object HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak.toDouble / 1048576.0
}
