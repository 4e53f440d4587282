package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters gathered for one label (a kind of operation). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, output, inputBytes, inputRows = 0L
  var scanFiles, scanBytes = 0L
  var writeFiles, writeBytes, writeRows, writeParts = 0L
}

/** A span: a timed call into one layer, under the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Traced-run instrumentation, all of it installed from the benchmark:
  * a `SparkListener` for engine counters, a `QueryExecutionListener` for
  * scan and write metrics, and spans around calls into the program's
  * modules. Counters are attributed to the label current when the work
  * ran; labels change only after the listener bus has drained.
  */
final class Tracer(spark: SparkSession) {
  private val byLabel = new ConcurrentHashMap[String, Counters]()
  @volatile private var label = "none"
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val seenMetrics = ConcurrentHashMap.newKeySet[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1

  private def counters(l: String): Counters = byLabel.computeIfAbsent(l, _ => new Counters)

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = label
      e.stageIds.foreach(s => stageLabel.put(s, l))
      val c = counters(l); c.synchronized { c.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = counters(stageLabel.getOrDefault(e.stageInfo.stageId, label))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(stageLabel.getOrDefault(e.stageId, label))
        c.synchronized {
          c.tasks += 1
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.output += m.outputMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = counters(label)
      // a metric object can reach here through more than one callback
      def fresh(m: org.apache.spark.sql.execution.metric.SQLMetric): Long =
        if (seenMetrics.add(m.id)) m.value else 0L
      nodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          c.synchronized {
            s.metrics.get("numFiles").foreach(m => c.scanFiles += fresh(m))
            s.metrics.get("filesSize").foreach(m => c.scanBytes += fresh(m))
          }
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            c.synchronized {
              i.metrics.get("numFiles").foreach(m => c.writeFiles += fresh(m))
              i.metrics.get("numOutputBytes").foreach(m => c.writeBytes += fresh(m))
              i.metrics.get("numOutputRows").foreach(m => c.writeRows += fresh(m))
              i.metrics.get("numParts").foreach(m => c.writeParts += fresh(m))
            }
          case _ =>
        }
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plans)

  /** Runs `body` with its Spark work attributed to `l`. */
  def labelled[T](l: String)(body: => T): T = {
    drain()
    val prev = label
    label = l
    try body finally { drain(); label = prev }
  }

  /** Wall time of `body` recorded as a span named `name`. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = spans.size
    val parent = current
    val t0 = System.nanoTime()
    spans += Span(id, parent, name, t0, t0)
    current = id
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      current = parent
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def get(l: String): Counters = { drain(); counters(l) }

  /** Drops every label's counters; spans are kept. */
  def reset(): Unit = { drain(); byLabel.clear(); stageLabel.clear() }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(plans)
  }

  /** Spans as JSON lines, written when the run ends. */
  def writeSpans(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
