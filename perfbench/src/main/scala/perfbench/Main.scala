package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession

/** The benchmark entry point: one workload, one seed, one closed client loop.
  *
  * {{{
  * java ... perfbench.Main --workload backfill --seed 1 --seconds 10 --trace 0 --work <dir>
  * }}}
  *
  * Writes human-readable lines, then one JSON result line, to stdout.
  */
object Main {
  /** Warm set-ups per run: at least `MinWarmSetUps`, and more while they
    * total under `WarmSetUpSeconds`, up to `MaxWarmSetUps`. `setup_s` is
    * their median. The cold set-up before them carries the JVM's own
    * warm-up and is not reported.
    */
  val MinWarmSetUps = 2
  val MaxWarmSetUps = 4
  val WarmSetUpSeconds = 2.0

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(kv("work"))
    if (kv.get("train").contains("1")) {
      // class-loading training run for the build's class-data archive:
      // every workload's code path once, traced and untraced, output dropped
      Seq("backfill", "registry").zipWithIndex.foreach { case (w, i) =>
        run(w, seed = 0, seconds = 0, trace = i == 0, new File(work, w), _ => (), warmSetUps = false)
      }
    } else {
      println(run(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", work,
        s => println(s"[perfbench] $s")))
    }
    System.exit(0)
  }

  /** One run of one workload; returns the JSON result line. */
  def run(workloadName: String, seed: Long, seconds: Int, trace: Boolean, work: File,
          out: String => Unit, warmSetUps: Boolean = true): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val cpus = Runtime.getRuntime.availableProcessors()
    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def clock(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    val workload = Workload(workloadName)
    // set-up: start a session, generate the lakes, seed the tables; the
    // last set-up's session and inputs are the ones measured
    var spark: SparkSession = null
    val setUps = mutable.ArrayBuffer.empty[Double]
    def warm = setUps.drop(1)
    while (setUps.isEmpty || warmSetUps &&
        (warm.size < MinWarmSetUps || (warm.sum < WarmSetUpSeconds && warm.size < MaxWarmSetUps))) {
      if (spark != null) spark.stop()
      val i = setUps.size
      Workload.deleteTree(new File(work, s"setup${i - 1}"))
      val t0 = System.nanoTime()
      spark = session()
      workload.setUp(spark, new File(work, s"setup$i"), seed)
      setUps += clock(t0)
    }
    out(s"workload $workloadName seed $seed on local[$cpus]: set-ups ${setUps.map(s => f"$s%.3f").mkString(", ")} s" +
      " (the first cold)")

    val t0 = System.nanoTime()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, tracer, out)
    val heap = new HeapLive
    val lat = workload.measure(ctx)
    val liveMb = heap.stop() / 1048576.0
    tracer.foreach { t =>
      t.close()
      t.writeSpans(new File(work.getParentFile, s"spans_${workloadName}_$seed.jsonl"))
    }
    val measured = clock(t0)
    val t1 = System.nanoTime()
    spark.stop()
    val warmUp = (ctx.loopStart - t0) / 1e9
    out(f"phases: JVM start $jvmStart%.1f s, set-ups ${setUps.sum}%.1f s, warm-up $warmUp%.1f s, " +
      f"measured loop + checks ${measured - warmUp}%.1f s, stop ${clock(t1)}%.1f s")

    val ok = ctx.checks.forall(_._2)
    out(s"${ctx.checks.size} output checks, ${ctx.checks.count(!_._2)} failed; " +
      s"${ctx.attempted} operations attempted, ${ctx.failed} failed; ${lat.samples} latency samples")
    val failedRatio = ctx.failed.toDouble / math.max(ctx.attempted, 1)
    val endToEnd = Seq(
      ("setup_s", Stats.median(if (warm.nonEmpty) warm.toSeq else setUps.toSeq), "s"),
      ("latency_p50_ms", lat.p50Ms, "ms"),
      ("latency_tail_ms", lat.tailMs, "ms"),
      ("heap_live_mb", liveMb, "MB"))
    endToEnd.foreach { case (n, v, u) => out(s"$n = $v $u") }
    out(s"latency samples (ms, in order): ${lat.all.map(x => f"$x%.0f").mkString(" ")}")
    out(s"ops_failed_ratio = $failedRatio ratio")
    ctx.layer.foreach { case (n, v) => out(s"layer $n = $v") }

    val metrics =
      if (!trace) endToEnd.map { case (n, v, u) => n -> (v, u) }
      else Layers.all.map { case (n, u) =>
        n -> (if (n == "ops_failed_ratio") failedRatio else ctx.layer.getOrElse(n, 0.0), u)
      }
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    s"""{"correct": $ok, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$body}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** JVM heap still live after a full collection, the largest seen over
  * the measured loop and the full collection that ends it. Heap right
  * after a young collection still holds old-generation garbage, and its
  * peak moved 15-25% between identical runs; the post-full-collection
  * figure is the live set.
  */
final class HeapLive {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools.contains(pool) => u.getUsed
          }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Long = {
    System.gc()
    Thread.sleep(200)
    beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
    synchronized(peak)
  }
}

/** The per-layer metrics a traced run reports, with units. A metric that
  * does not apply to the workload reads 0.
  */
object Layers {
  /** Per-row numbers of the registry sample. */
  val registry: Seq[(String, String)] = Registry.digests.keys.toSeq
    .flatMap(r => Seq(s"registry.${r}_s" -> "s", s"registry.$r.jobs" -> "count"))

  val all: Seq[(String, String)] = Seq(
    "ops_failed_ratio" -> "ratio",
    "trace.wall_s" -> "s", "trace.residual_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "write_s" -> "s", "write.files" -> "count", "write.bytes" -> "bytes",
    "write.partitions" -> "count", "write.rows" -> "count", "refined_bytes_per_row" -> "bytes",
    "catalog.extract_s" -> "s", "catalog.load_s" -> "s",
    "catalog.partitions_discovered" -> "count", "catalog.partitions_added" -> "count",
    "scan_s" -> "s", "scan.files" -> "count", "scan.input_bytes" -> "bytes", "scan.input_rows" -> "count",
    "analyst.ticker.files_read" -> "count", "analyst.ticker.bytes_read" -> "bytes",
    "analyst.day.files_read" -> "count", "analyst.day.bytes_read" -> "bytes",
    "analyst.full.files_read" -> "count", "analyst.full.bytes_read" -> "bytes",
    "analyst.ticker_p50_ms" -> "ms", "analyst.day_p50_ms" -> "ms", "analyst.full_p50_ms" -> "ms",
    "analyst.first_query_ms" -> "ms",
    "cleansing_s" -> "s", "cleansing.prune_job_s" -> "s", "cleansing.rows_dropped" -> "count",
    "dedup_s" -> "s", "dedup.rows_removed" -> "count", "windows_s" -> "s",
    "daily.latency_p50_ms" -> "ms", "daily.latency_tail_ms" -> "ms",
    "daily.transform_s" -> "s", "daily.write_s" -> "s", "daily.slope_ms_per_1k_partitions" -> "ms/1kpart",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes", "spark.jobs_per_day" -> "count") ++
    registry
}
