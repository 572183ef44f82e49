package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of one layer (or of the whole engine) over one operation. */
final class LayerTotals {
  var wallNs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var rowsOut = 0L
  var tasks = 0L
  var jobs = 0L

  def copy(): LayerTotals = {
    val c = new LayerTotals
    c.wallNs = wallNs; c.cpuNs = cpuNs; c.runMs = runMs
    c.shuffleBytes = shuffleBytes; c.spillBytes = spillBytes
    c.rowsOut = rowsOut; c.tasks = tasks; c.jobs = jobs
    c
  }
}

/** What one traced operation recorded: per-layer totals, engine-wide
 * totals, and the observed cap-drop count. */
final case class OpTrace(layers: Map[String, LayerTotals], engine: LayerTotals,
                         gcNs: Long, peakHeapBytes: Long, capDropped: Long)

/**
 * Per-layer accounting from outside the program: [[span]] tags every Spark
 * job a public-layer call runs with a job group named after the layer and
 * times the call; one SparkListener attributes each finished task's metrics
 * to the group of its stage. A QueryExecutionListener sums the drop counts
 * of the incremental key cap (`graft.util.CapMetrics`).
 *
 * Spans are flat: every Spark job runs inside at most one span, so layer
 * totals never double count.
 */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private var layers = mutable.LinkedHashMap.empty[String, LayerTotals]
  private var engine = new LayerTotals
  private var capDropped = 0L
  private var gc0 = 0L

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      qe.observedMetrics.get("incremental_wnp_cap").foreach { r =>
        Tracer.this.synchronized {
          capDropped += (if (r.isNullAt(0)) 0L else r.getLong(0))
        }
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def layer(name: String): LayerTotals =
    layers.getOrElseUpdate(name, new LayerTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    engine.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageLayer(_) = g)
        layer(g).jobs += 1
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val targets = engine +: stageLayer.get(e.stageId).map(layer).toSeq
      targets.foreach { a =>
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.rowsOut += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Run one public-layer call as layer `name`. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.clearJobGroup()
      synchronized { layer(name).wallNs += dt }
    }
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcNs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum * 1000000L

  /** Start recording one operation: the listeners are attached only
   * between [[begin]] and [[end]], so untraced operations run without them. */
  def begin(): Unit = {
    // events of earlier operations still queued must not reach this one
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized {
      layers = mutable.LinkedHashMap.empty
      engine = new LayerTotals
      capDropped = 0L
      stageLayer.clear()
    }
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcNs
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
  }

  /** Finish the operation begun by [[begin]]: waits for the listener bus,
   * so every task of the operation is counted, then detaches. */
  def end(): OpTrace = {
    val gc = gcNs - gc0
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    synchronized {
      OpTrace(layers.map { case (k, v) => k -> v.copy() }.toMap, engine.copy(), gc, peak, capDropped)
    }
  }
}
