package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.ops.{Cleansing, Dedup}
import graft.pipeline.{Catalog, Pipeline, Transform}

/** What one measured run hands back besides the per-layer numbers. */
final case class Latency(p50Ms: Double, tailMs: Double, samples: Int, all: Seq[Double] = Nil)

/** State shared by a workload's measured loop: the closed-loop deadline,
  * failure accounting, output checks and per-layer numbers.
  */
final class Ctx(val spark: SparkSession, val seed: Long, seconds: Int,
                val tracer: Option[Tracer], val out: String => Unit) {
  val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var deadline = Long.MaxValue
  /** When the measured loop started, for the phase timings. */
  var loopStart = 0L

  def startClock(): Unit = {
    loopStart = System.nanoTime()
    deadline = loopStart + seconds * 1000000000L
  }
  def timeLeft: Boolean = System.nanoTime() < deadline
  /** Whether an operation taking `ns` would still end before the deadline. */
  def fits(ns: Long): Boolean = System.nanoTime() + ns <= deadline
  def tracing: Boolean = tracer.isDefined

  /** One operation: counted as attempted; a failure is counted, logged
    * and returns None, so it never enters the latency samples.
    */
  def attempt[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      Some(r -> (System.nanoTime() - t0) / 1e6)
    } catch { case NonFatal(e) =>
      failed += 1
      out(s"operation $what FAILED: $e")
      None
    }
  }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) out(s"check $name FAILED: $detail")
  }

  /** Runs `body` under the tracer's label `l` when tracing. */
  def labelled[T](l: String)(body: => T): T = tracer match {
    case Some(t) => t.labelled(l)(body)
    case None => body
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with `k` samples beyond it: ten from 40
    * samples up, and one in four below that (the 75th percentile by
    * rank, at least one sample beyond), so that a run with few
    * operations still reports a tail above its median. Never below the
    * median.
    */
  def tail(xs: Seq[Double]): Double = {
    val k = math.max(1, math.min(10, xs.size / 4))
    math.max(median(xs), xs.sorted.apply(math.max(0, xs.size - 1 - k)))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def latency(xs: Seq[Double]): Latency = Latency(median(xs), tail(xs), xs.size, xs)

  /** Least-squares slope of y over x. */
  def slope(xy: Seq[(Double, Double)]): Double = {
    val mx = mean(xy.map(_._1))
    val my = mean(xy.map(_._2))
    val den = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (den == 0) 0.0 else xy.map { case (x, y) => (x - mx) * (y - my) }.sum / den
  }
}

trait Workload {
  /** Generates the inputs under `dir` and seeds any tables they need. */
  def setUp(spark: SparkSession, dir: File, seed: Long): Unit
  /** The closed measured loop, with its output checks. */
  def measure(ctx: Ctx): Latency
}

object Workload {
  def apply(name: String): Workload = name match {
    case "backfill" => new Backfill
    case "registry" => new Registry
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val v1Keys = Seq("code", "reference_date")
  val v2Keys = Seq("data_pregao", "codigo_acao")

  def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Engine counters of `ops` operations run under label `l`, per op. */
  def engineCounters(ctx: Ctx, l: String, ops: Int): Unit = ctx.tracer.foreach { t =>
    val c = t.get(l)
    val n = math.max(ops, 1).toDouble
    ctx.layer ++= Seq(
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n, "spark.tasks" -> c.tasks / n,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9 / n, "spark.executor_run_s" -> c.runMs / 1e3 / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n, "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n, "spark.output_bytes" -> c.output / n,
      "scan.files" -> c.scanFiles / n, "scan.input_bytes" -> c.inputBytes / n,
      "scan.input_rows" -> c.inputRows / n)
    if (c.writeRows > 0) ctx.layer ++= Seq(
      "write.files" -> c.writeFiles / n, "write.bytes" -> c.writeBytes / n,
      "write.partitions" -> c.writeParts / n, "write.rows" -> c.writeRows / n,
      "refined_bytes_per_row" -> c.writeBytes.toDouble / c.writeRows)
  }

  /** Layer self times averaged over the traced operations, with the
    * residual the spans do not cover and the overhead against the plain
    * operations of the same run.
    */
  def layerSplit(ctx: Ctx, traced: Seq[(Double, Map[String, Double])], plainMs: Seq[Double]): Unit =
    if (traced.nonEmpty) {
      val keys = traced.head._2.keys.toSeq
      val self = keys.map(k => k -> Stats.mean(traced.map(_._2(k))))
      val wall = Stats.mean(traced.map(_._1))
      ctx.layer ++= self
      ctx.layer ++= Seq("trace.wall_s" -> wall, "trace.residual_s" -> (wall - self.map(_._2).sum))
      if (plainMs.nonEmpty)
        ctx.layer("trace.overhead_ratio") = wall * 1000 / Stats.mean(plainMs) - 1
    }
}

import Workload._

/** EP2 `Pipeline.run` from the raw lake to a registered refined table,
  * each time into a fresh refined root and fresh catalog databases — what
  * the launcher's `mode=full` does. The partitioned write and its commit
  * carry most of the cost.
  */
final class Backfill extends Workload {
  val codes = 4
  val days = 8
  private var lake: Lakes.V1Lake = _
  private var dir: File = _

  def setUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.dir = dir
    lake = Lakes.genV1(spark, new File(dir, "raw").getPath, seed, codes, days)
  }

  def measure(ctx: Ctx): Latency = {
    val spark = ctx.spark
    var n = 0
    var kept: Option[(String, String)] = None
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    var added = 0.0

    def drop(target: (String, String)): Unit = {
      spark.sql(s"DROP DATABASE IF EXISTS ${target._1}_raw CASCADE")
      spark.sql(s"DROP DATABASE IF EXISTS ${target._1}_refined CASCADE")
      deleteTree(new File(target._2))
    }
    def once(trace: Boolean, l: String = "op"): Option[Double] = {
      val db = s"bf$n"
      val refined = new File(dir, s"refined_$n").getPath
      n += 1
      val p = new Pipeline(spark, s"${db}_raw", s"${db}_refined")
      val res = if (!trace) ctx.labelled(l)(ctx.attempt("ep2") {
          p.run(lake.path, refined)
          (Map.empty[String, Double], 0.0, 0.0)
        })
        else ctx.attempt("ep2-traced")(tracedRun(ctx, p, refined))
      kept.foreach(drop)
      kept = Some(db -> refined)
      res.map { case ((self, wall, partitions), ms) =>
        if (trace) { traced += ((wall, self)); added = partitions }
        ms
      }
    }

    (1 to Backfill.WarmUps).foreach(_ => once(trace = false, "warm-up"))
    ctx.startClock()
    var i = 0
    while (ctx.timeLeft || plain.isEmpty || (ctx.tracing && traced.isEmpty)) {
      val trace = ctx.tracing && i % 2 == 1
      once(trace).foreach(ms => if (!trace) plain += ms)
      i += 1
    }
    // checks run on the last operation's output
    kept.foreach { case (db, _) => checkRefined(ctx, s"${db}_refined") }
    if (ctx.tracing) {
      engineCounters(ctx, "op", plain.size)
      layerSplit(ctx, traced.toSeq, plain.toSeq)
      probeCounts(ctx)
      val discovered = Catalog.discoverPartitions(spark, lake.path, Seq("date")).size +
        kept.map(k => Catalog.discoverPartitions(spark, k._2, v1Keys).size).getOrElse(0)
      ctx.layer ++= Seq("catalog.partitions_discovered" -> discovered.toDouble,
        "catalog.partitions_added" -> added)
      kept.foreach { case (db, _) => Reads.run(ctx, lake, s"${db}_refined.pregao_refined") }
      Daily.traced(ctx, new File(dir, "daily"))
    }
    Stats.latency(plain.toSeq)
  }

  /** `Pipeline.run`'s steps called one by one under spans, then the
    * transform chain's prefixes sunk to `noop` to split the chain by
    * module. Returns the self times and the partitions registered.
    */
  private def tracedRun(ctx: Ctx, p: Pipeline, refined: String): (Map[String, Double], Double, Double) = {
    val t = ctx.tracer.get
    val spark = ctx.spark
    val ((extract, load, pruneJob, write, added), wall) = t.span("ep2") {
      ctx.labelled("op-traced") {
        val (a1, ex) = t.span("catalog.extract")(p.extract(lake.path))
        val raw = spark.read.option("basePath", lake.path)
          .option("recursiveFileLookup", "false").parquet(lake.path)
        val (df, pj) = t.span("cleansing.prune_job")(Transform.transformV1(raw, 7))
        val (_, wr) = t.span("write")(Transform.writePartitioned(spark, df, refined, v1Keys))
        val (a2, ld) = t.span("catalog.load")(p.load(refined))
        (ex, ld, pj, wr, (a1 + a2).toDouble)
      }
    }
    val (e, _) = t.span("probes") {
      ctx.labelled("probe") {
        val chain = V1Chain(spark, lake.path)
        (t.span("scan")(noop(chain.raw))._2, t.span("cleansing")(noop(chain.cleansed))._2,
          t.span("dedup")(noop(chain.deduped))._2, t.span("windows")(noop(chain.full))._2)
      }
    }
    val (e0, e1, e2, e3) = e
    (Map("catalog.extract_s" -> extract, "cleansing.prune_job_s" -> pruneJob,
      "scan_s" -> e0, "cleansing_s" -> (e1 - e0), "dedup_s" -> (e2 - e1),
      "windows_s" -> (e3 - e2), "write_s" -> (write - e3), "catalog.load_s" -> load), wall, added)
  }

  /** Row counts of the probe prefixes, and a check that the benchmark's
    * copy of the v1 chain still matches `Transform.transformV1`: if the
    * program's chain changes, the module split must fail loudly rather
    * than time a stale copy.
    */
  private def probeCounts(ctx: Ctx): Unit = ctx.labelled("probe") {
    val chain = V1Chain(ctx.spark, lake.path)
    val raw = chain.raw.count()
    val cleansed = chain.cleansed.count()
    val deduped = chain.deduped.count()
    ctx.layer ++= Seq("cleansing.rows_dropped" -> (raw - cleansed).toDouble,
      "dedup.rows_removed" -> (cleansed - deduped).toDouble)
    val keys = chain.deduped.select(col("code"),
      Cleansing.formatPartitionDate(col("reference_date_date")).as("reference_date"))
    val stray = keys.exceptAll(chain.full.select(v1Keys.map(col): _*)).count() +
      chain.full.select(v1Keys.map(col): _*).exceptAll(keys).count()
    ctx.check("backfill.probe_chain_matches_program", deduped == lake.refinedRows && stray == 0,
      s"dedup prefix has $deduped rows, expected ${lake.refinedRows}; $stray keys differ from transformV1")
    val added = Set("initial_date") ++
      Seq("mean", "median", "std", "max", "min").map(s => s"${s}_part_7_days")
    val prefixCols = chain.deduped.columns.toSet - "reference_date_date" + "reference_date"
    ctx.check("backfill.probe_chain_columns", chain.full.columns.toSet -- added == prefixCols,
      s"dedup prefix columns ${prefixCols.toSeq.sorted.mkString(",")}, " +
        s"transformV1 ${chain.full.columns.sorted.mkString(",")}")
  }

  private def checkRefined(ctx: Ctx, db: String): Unit = {
    val spark = ctx.spark
    val table = spark.table(s"$db.pregao_refined")
    val r = table.agg(count(lit(1)), countDistinct(col("code"), col("reference_date"))).first()
    ctx.check("backfill.rows", r.getLong(0) == lake.refinedRows,
      s"${r.getLong(0)} rows, expected ${lake.refinedRows}")
    ctx.check("backfill.one_row_per_key", r.getLong(1) == r.getLong(0),
      s"${r.getLong(1)} distinct (code, reference_date) over ${r.getLong(0)} rows")
    val parts = Catalog.listPartitions(spark, db, "pregao_refined").size
    ctx.check("backfill.catalog_partitions", parts == lake.refinedRows,
      s"$parts partitions registered, expected ${lake.refinedRows}")
    val sample = (0 until 3).map(_ => lake.codes(ctx.rng.nextInt(lake.codes.size))).distinct
    sample.foreach(c => checkRolling(ctx, table, c, s"backfill.rolling.$c"))
  }

  /** Compares the refined rows of one ticker with the plain-Scala rolling
    * recomputation from the generator's values.
    */
  private def checkRolling(ctx: Ctx, table: DataFrame, code: String, name: String): Unit = {
    val got = table.where(col("code") === code)
      .select("reference_date", "part", "mean_part_7_days", "median_part_7_days",
        "std_part_7_days", "max_part_7_days", "min_part_7_days", "initial_date")
      .orderBy("reference_date").collect().toVector
    val want = lake.rollingStats(code)
    def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val bad = if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
      else got.zip(want).collectFirst {
        case (g, w) if g.getString(0) != w._1 || !near(g.getDouble(1), w._2) ||
          !near(g.getDouble(2), w._3) || !near(g.getDouble(3), w._4) ||
          (if (g.isNullAt(4)) w._5.isDefined else !w._5.exists(near(g.getDouble(4), _))) ||
          !near(g.getDouble(5), w._6) || !near(g.getDouble(6), w._7) || g.getString(7) != w._8 =>
          s"row $g, expected $w"
      }
    ctx.check(name, bad.isEmpty, bad.getOrElse(""))
  }
}

object Backfill {
  /** EP2 runs before the clock starts. EP2 keeps getting faster over a
    * JVM's first several runs: after three warm-ups the first timed run
    * can still be the slowest of its run, by up to 40%, which the median
    * of the timed runs absorbs. More warm-ups would not fit the time the
    * benchmark's runs may take together.
    */
  val WarmUps = 3
}

/** The v1 chain of `Transform.transformV1` cut after each operator
  * module: cleansing (prune, renames, sanitizer casts, null-key guard),
  * then the keyed dedup, then the full chain with its windows.
  */
final case class V1Chain(raw: DataFrame, cleansed: DataFrame, deduped: DataFrame, full: DataFrame)
object V1Chain {
  def apply(spark: SparkSession, path: String): V1Chain = {
    val raw = spark.read.option("basePath", path).option("recursiveFileLookup", "false").parquet(path)
    val pruned = Cleansing.pruneAllNullColumns(raw,
      Set("cod", "asset", "type", "part", "theoricalQty", "date"))
    val renamed = Cleansing.renameColumns(pruned, Map(
      "cod" -> "code", "asset" -> "ticker", "date" -> "reference_date"))
    val sane = renamed
      .withColumn("part", Cleansing.commaDecimalToDouble(col("part")))
      .withColumn("theoricalQty", Cleansing.formattedToLong(col("theoricalQty")))
      .withColumn("reference_date_date", Cleansing.toDatePattern(col("reference_date")))
    val cleansed = Cleansing.filterNotNull(sane, Seq("code", "reference_date_date"))
    val deduped = Dedup.keepFirst(cleansed.repartition(col("code")),
      Seq("code", "reference_date_date"),
      Seq(col("ticker"), col("type"), col("part"), col("theoricalQty")))
    V1Chain(raw, cleansed, deduped, Transform.transformV1(raw, 7))
  }
}

/** EP1 `Pipeline.runIncremental`: one-day v2 files, each into a refined
  * lake that set-up pre-seeded (EP3 over earlier days) and that grows as
  * the run goes on. Per-job fixed cost and the dynamic-overwrite commit
  * dominate.
  */
final class Daily extends Workload {
  val codes = 12
  val seedDays = 2
  private var spark: SparkSession = _
  private var seed: Long = _
  private var names: Vector[String] = _
  private var days: Vector[String] = _
  private var arrivals: String = _
  private var refined: String = _
  private var seeded: Set[(String, String)] = _

  def setUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    this.spark = spark
    this.seed = seed
    names = Lakes.tickers(new java.util.SplittableRandom(seed), codes)
    days = Lakes.tradingDays(seedDays + Daily.MaxDays)
    val seedRoot = new File(dir, "v2_seed").getPath
    val seedLake = Lakes.genV2(spark, seedRoot, seed + 1, names, days.take(seedDays))
    arrivals = new File(dir, "v2_days").getPath
    refined = new File(dir, "refined_v2").getPath
    new Pipeline(spark).runFullScan(seedRoot, refined)
    seeded = seedLake.flatMap(_.partitionRows.keys).toSet
  }

  /** The `i`-th one-day file to arrive, written when it is due: its own
    * seed, so the same run seed gives the same files however many are sent.
    */
  private def arrival(i: Int): Lakes.V2Day =
    Lakes.genV2(spark, arrivals, seed * 1000003L + i, names, Vector(days(seedDays + i))).head

  private def snapshot(): Map[String, (Long, Long)] = {
    val root = new File(refined)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet")).map { f =>
      val crc = new java.util.zip.CRC32()
      crc.update(java.nio.file.Files.readAllBytes(f.toPath))
      root.toPath.relativize(f.toPath).toString -> (f.length(), crc.getValue)
    }.toMap
  }

  def measure(ctx: Ctx): Latency = {
    val spark = ctx.spark
    val before = snapshot()
    var partitions = seeded
    var next = 0
    val sent = mutable.ArrayBuffer.empty[Lakes.V2Day]
    val plain = mutable.ArrayBuffer.empty[(Double, Double)] // (partitions before, ms)
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val p = new Pipeline(spark)

    def once(trace: Boolean, l: String = "op"): Option[Double] = {
      val day = arrival(next)
      next += 1
      val size = partitions.size.toDouble
      val res = if (!trace) ctx.labelled(l)(ctx.attempt("ep1") {
          p.runIncremental(day.file, refined)
          (Map.empty[String, Double], 0.0)
        })
        else ctx.attempt("ep1-traced")(tracedRun(ctx, day.file))
      sent += day
      partitions ++= day.partitionRows.keys
      res.map { case ((self, wall), ms) =>
        if (trace) traced += ((wall, self))
        else plain += ((size, ms))
        ms
      }
    }

    (1 to Daily.WarmUps).foreach(_ => once(trace = false, "warm-up"))
    plain.clear()
    ctx.startClock()
    var i = 0
    while (next < Daily.MaxDays && (ctx.timeLeft || plain.isEmpty || (ctx.tracing && traced.isEmpty))) {
      once(ctx.tracing && i % 2 == 1)
      i += 1
    }
    if (next == Daily.MaxDays) ctx.out(s"daily: all ${Daily.MaxDays} days sent before the deadline")
    checkLake(ctx, before, sent.toSeq)
    val ms = plain.map(_._2).toSeq
    if (ctx.tracing) {
      engineCounters(ctx, "op", ms.size)
      ctx.layer("spark.jobs_per_day") = ctx.layer("spark.jobs")
      layerSplit(ctx, traced.toSeq, ms)
      ctx.layer("daily.transform_s") =
        Seq("scan_s", "cleansing_s", "dedup_s", "windows_s").map(ctx.layer).sum
      ctx.layer("daily.write_s") = ctx.layer("write_s")
      ctx.layer("daily.slope_ms_per_1k_partitions") = Stats.slope(plain.toSeq) * 1000
      probeCounts(ctx, sent.last)
    }
    ctx.out(f"daily: ${ms.size} timed days, lake ${seeded.size} -> ${partitions.size} partitions")
    Stats.latency(ms)
  }

  /** `runIncremental`'s steps under spans, then the v2 chain's prefixes
    * sunk to `noop`.
    */
  private def tracedRun(ctx: Ctx, file: String): (Map[String, Double], Double) = {
    val t = ctx.tracer.get
    val spark = ctx.spark
    val (write, wall) = t.span("ep1") {
      ctx.labelled("op-traced") {
        val raw = spark.read.parquet(file)
        val df = Transform.transformV2(raw)
        t.span("write")(Transform.writePartitioned(spark, df, refined, v2Keys))._2
      }
    }
    val (e, _) = t.span("probes") {
      ctx.labelled("probe") {
        val c = V2Chain(spark, file)
        (t.span("scan")(noop(c.raw))._2, t.span("cleansing.select")(noop(c.selected))._2,
          t.span("dedup")(noop(c.deduped))._2, t.span("cleansing")(noop(c.cleansed))._2,
          t.span("windows")(noop(c.full))._2)
      }
    }
    val (e0, e1, e2, e3, e4) = e
    (Map("scan_s" -> e0, "cleansing_s" -> ((e1 - e0) + (e3 - e2)), "dedup_s" -> (e2 - e1),
      "windows_s" -> (e4 - e3), "write_s" -> (write - e4)), wall)
  }

  /** Row counts of the probe prefixes, and a check that the benchmark's
    * copy of the v2 chain still matches `Transform.transformV2`.
    */
  private def probeCounts(ctx: Ctx, day: Lakes.V2Day): Unit = ctx.labelled("probe") {
    val c = V2Chain(ctx.spark, day.file)
    val raw = c.raw.count()
    val selected = c.selected.count()
    val deduped = c.deduped.count()
    ctx.layer ++= Seq("dedup.rows_removed" -> (selected - deduped).toDouble,
      "cleansing.rows_dropped" -> (raw - c.cleansed.count()).toDouble)
    val want = day.partitionRows.values.sum
    ctx.check("daily.probe_chain_rows", deduped == want && c.full.count() == want,
      s"dedup prefix ${deduped} rows, transformV2 ${c.full.count()}, expected $want")
    val windowCols = Set("media_movel_7d", "quantidade_total_setor")
    val prefix = c.cleansed.schema.fields.filter(_.name != "data_pregao_ts").map(f => f.name -> f.dataType)
    val program = c.full.schema.fields.filterNot(f => windowCols(f.name)).map(f => f.name -> f.dataType)
    ctx.check("daily.probe_chain_schema", prefix.sameElements(program),
      s"cleansing prefix ${prefix.mkString(",")}; transformV2 without windows ${program.mkString(",")}")
  }

  private def checkLake(ctx: Ctx, before: Map[String, (Long, Long)], sent: Seq[Lakes.V2Day]): Unit = {
    val touched = sent.flatMap(_.partitionRows.keys).toSet
    def partOf(rel: String): (String, String) = {
      val kv = rel.split('/').filter(_.contains('=')).map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      (kv("data_pregao"), kv("codigo_acao"))
    }
    val after = snapshot()
    val changed = before.collect {
      case (rel, v) if !touched.contains(partOf(rel)) && !after.get(rel).contains(v) => rel
    }
    ctx.check("daily.untouched_partitions_unchanged", changed.isEmpty,
      s"${changed.size} files of untouched partitions changed, e.g. ${changed.take(3).mkString(", ")}")
    // the last day to touch a partition owns its rows (dynamic overwrite)
    val want = sent.flatMap(_.partitionRows).toMap
    val got = ctx.spark.read.parquet(refined)
      .select(regexp_extract(col("_metadata.file_path"), "data_pregao=([^/]+)/", 1).as("d"),
        regexp_extract(col("_metadata.file_path"), "codigo_acao=([^/]+)/", 1).as("c"))
      .groupBy("d", "c").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wrong = want.collect { case (k, n) if !got.get(k).contains(n) => s"$k: ${got.get(k)} rows, expected $n" }
    ctx.check("daily.partition_rows", wrong.isEmpty, wrong.take(3).mkString("; "))
    val missing = seeded.diff(got.keySet)
    ctx.check("daily.no_partition_lost", missing.isEmpty, s"${missing.size} seeded partitions gone")
  }
}

object Daily {
  /** Days sent before the clock starts: the first days of a JVM are
    * 10-30% slower than the ones after.
    */
  val WarmUps = 3
  /** Upper bound on the days one run sends, warm-ups included. */
  val MaxDays = 400
  /** How long the EP1 loop of a traced `backfill` run sends days. */
  val TracedSeconds = 5

  /** EP1 inside a traced `backfill` run, with the set-up and loop it had
    * as a workload of its own. A separate workload, with its own JVM and
    * set-ups, did not fit the time the benchmark's runs may take together.
    * Its engine counters start from zero, and only the EP1 layer metrics
    * are kept: `backfill` reports the module split of its own operation.
    */
  def traced(ctx: Ctx, dir: File): Unit = {
    val d = new Daily
    d.setUp(ctx.spark, dir, ctx.seed)
    ctx.tracer.foreach(_.reset())
    val sub = new Ctx(ctx.spark, ctx.seed, TracedSeconds, ctx.tracer, ctx.out)
    val lat = d.measure(sub)
    ctx.attempted += sub.attempted
    ctx.failed += sub.failed
    ctx.checks ++= sub.checks
    ctx.layer ++= sub.layer.filter { case (k, _) => k.startsWith("daily.") || k == "spark.jobs_per_day" }
    ctx.layer ++= Seq("daily.latency_p50_ms" -> lat.p50Ms, "daily.latency_tail_ms" -> lat.tailMs)
  }
}

/** The v2 chain of `Transform.transformV2` cut after each operator module. */
final case class V2Chain(raw: DataFrame, selected: DataFrame, deduped: DataFrame,
                         cleansed: DataFrame, full: DataFrame)
object V2Chain {
  def apply(spark: SparkSession, file: String): V2Chain = {
    val raw = spark.read.parquet(file)
    val selected = Cleansing.selectColumns(raw, graft.pipeline.Schemas.rawV2.fieldNames.toSeq)
    val deduped = Dedup.dropExact(selected)
    val filled = Cleansing.fillDefaults(deduped, Map(
      "setor" -> "UNKNOWN", "codigo" -> "UNKNOWN", "acao" -> "UNKNOWN", "tipo" -> "UNKNOWN",
      "porcentagem_participacao" -> 0.0, "porcentagem_participacao_acumulada" -> 0.0,
      "quantidade_teorica" -> 0L))
    val cleansed = Cleansing.renameColumns(Cleansing.fillSentinelDate(filled, "data_pregao"),
      Map("codigo" -> "codigo_acao", "acao" -> "nome_acao"))
      .withColumn("data_pregao_ts", col("data_pregao").try_cast(TimestampType))
    V2Chain(raw, selected, deduped, cleansed, Transform.transformV2(raw))
  }
}

/** Read-side queries through the refined table a traced backfill left
  * registered: ticker history (first-level partition prune), one-day
  * cross-section (second-level prune) and a full-table aggregate, in
  * blocks of five in seeded order. They split the scan layer by query
  * class; every result count is checked against the generator.
  */
object Reads {
  val Blocks = 4

  private def query(ctx: Ctx, s: SparkSession, lake: Lakes.V1Lake, table: String, cls: String): Option[Double] = {
    val rng = ctx.rng
    val (sql, want) = cls match {
      case "ticker" =>
        val c = lake.codes(rng.nextInt(lake.codes.size))
        (s"SELECT reference_date, part, mean_part_7_days, std_part_7_days FROM $table " +
          s"WHERE code = '$c' ORDER BY reference_date", lake.daysOf.getOrElse(c, 0).toLong)
      case "day" =>
        val d = lake.days(rng.nextInt(lake.days.size))
        (s"SELECT code, part, theoricalQty FROM $table WHERE reference_date = '$d' ORDER BY code",
          lake.codesOn.getOrElse(d, 0).toLong)
      case "full" =>
        (s"SELECT code, count(*) AS n, avg(part) AS avg_part, max(max_part_7_days) AS mx " +
          s"FROM $table GROUP BY code", lake.daysOf.size.toLong)
    }
    ctx.attempt(s"analyst-$cls")(s.sql(sql).collect()).map { case (rows, ms) =>
      ctx.check(s"analyst.$cls.rows", rows.length == want, s"${rows.length} rows for [$sql], expected $want")
      if (cls == "full") {
        val total = rows.map(_.getLong(1)).sum
        ctx.check("analyst.full.total", total == lake.refinedRows, s"$total rows, expected ${lake.refinedRows}")
      }
      ms
    }
  }

  def run(ctx: Ctx, lake: Lakes.V1Lake, table: String): Unit = {
    val spark = ctx.spark
    val block = Vector("ticker", "ticker", "day", "day", "full")
    def shuffled(): Vector[String] = {
      val b = block.toArray
      for (i <- b.indices.reverse) { val j = ctx.rng.nextInt(i + 1); val x = b(i); b(i) = b(j); b(j) = x }
      b.toVector
    }
    // first full-table query of each fresh session: the listing every new job pays
    val first = ctx.labelled("first-query")((1 to 3).flatMap(_ => query(ctx, spark.newSession(), lake, table, "full")))
    ctx.labelled("warm-up")(block.foreach(c => query(ctx, spark, lake, table, c)))
    val samples = (1 to Blocks).flatMap(_ => shuffled().flatMap { c =>
      ctx.labelled(c)(query(ctx, spark, lake, table, c)).map(c -> _)
    })
    def p50(c: String) = Stats.median(samples.filter(_._1 == c).map(_._2))
    ctx.layer ++= Seq("analyst.ticker_p50_ms" -> p50("ticker"), "analyst.day_p50_ms" -> p50("day"),
      "analyst.full_p50_ms" -> p50("full"), "analyst.first_query_ms" -> Stats.median(first))
    ctx.tracer.foreach { t =>
      Seq("ticker", "day", "full").foreach { c =>
        val n = math.max(samples.count(_._1 == c), 1).toDouble
        val k = t.get(c)
        ctx.layer ++= Seq(s"analyst.$c.files_read" -> k.scanFiles / n, s"analyst.$c.bytes_read" -> k.scanBytes / n)
      }
    }
  }
}

/** A fixed sample of `graft.SparkEntry.queries` rows, one per module the
  * pipeline workloads do not reach, each sunk to `noop` over the
  * generated testdata tables. Latency is per pass over the sample: the
  * sum of the per-row medians.
  */
final class Registry extends Workload {
  private var sf: String = _

  /** The tables are fixed and the rows run in a fixed order, so the seed
    * changes nothing here.
    */
  def setUp(spark: SparkSession, dir: File, seed: Long): Unit = {
    sf = new File(dir, "sf").getPath
    RegistryData.write(spark, sf)
  }

  def measure(ctx: Ctx): Latency = {
    val spark = ctx.spark
    val order = Registry.digests.keys.toVector
    // warm-up pass, which also checks each row's output digest
    order.foreach { n =>
      ctx.attempt(n)(Registry.digest(graft.SparkEntry.queries(n)(spark, sf))).foreach { case (d, ms) =>
        ctx.out(f"registry: $n warm-up $ms%.0f ms")
        ctx.check(s"registry.$n.digest", d == Registry.digests(n), s"digest $d, recorded ${Registry.digests(n)}")
      }
    }
    ctx.startClock()
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // a pass takes about as long as a run measures, so a pass that could
    // not end in time is not started: otherwise some runs would make two
    // passes, the second faster, and others one
    var pass = 0L
    do {
      val t0 = System.nanoTime()
      order.foreach { n =>
        System.gc()
        ctx.labelled(s"row:$n")(ctx.attempt(n)(noop(graft.SparkEntry.queries(n)(spark, sf))))
          .foreach { case (_, ms) => samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms }
      }
      pass = System.nanoTime() - t0
    } while (ctx.fits(pass))
    ctx.tracer.foreach { t =>
      order.foreach { n =>
        val runs = math.max(samples.get(n).map(_.size).getOrElse(0), 1).toDouble
        ctx.layer(s"registry.${n}_s") = samples.get(n).map(s => Stats.median(s.toSeq) / 1000).getOrElse(0.0)
        ctx.layer(s"registry.$n.jobs") = t.get(s"row:$n").jobs / runs
      }
      val all = order.map(n => t.get(s"row:$n"))
      val passes = math.max(samples.values.map(_.size).minOption.getOrElse(1), 1).toDouble
      ctx.layer ++= Seq(
        "spark.jobs" -> all.map(_.jobs).sum / passes, "spark.stages" -> all.map(_.stages).sum / passes,
        "spark.tasks" -> all.map(_.tasks).sum / passes,
        "spark.executor_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / passes,
        "spark.executor_run_s" -> all.map(_.runMs).sum / 1e3 / passes,
        "spark.gc_s" -> all.map(_.gcMs).sum / 1e3 / passes,
        "spark.shuffle_write_bytes" -> all.map(_.shuffleWrite).sum / passes,
        "spark.shuffle_read_bytes" -> all.map(_.shuffleRead).sum / passes,
        "spark.spill_bytes" -> all.map(_.spill).sum / passes,
        "spark.output_bytes" -> all.map(_.output).sum / passes,
        "scan.files" -> all.map(_.scanFiles).sum / passes,
        "scan.input_bytes" -> all.map(_.inputBytes).sum / passes,
        "scan.input_rows" -> all.map(_.inputRows).sum / passes)
    }
    val missing = order.filterNot(samples.contains)
    if (missing.nonEmpty) throw new IllegalStateException(s"no successful run of ${missing.mkString(", ")}")
    val p50 = order.map(n => Stats.median(samples(n).toSeq)).sum
    val tail = order.map(n => Stats.tail(samples(n).toSeq)).sum
    Latency(p50, tail, samples.values.map(_.size).sum)
  }
}

object Registry {
  /** The sampled rows and their output digests over [[RegistryData]],
    * recorded from the program when the benchmark was added. A mismatch
    * fails the row's check and prints the new digest.
    */
  val digests: scala.collection.immutable.ListMap[String, String] = scala.collection.immutable.ListMap(
    "q_lm_score" -> "500:163958677446637531710",
    "q_dup_clusters" -> "500:-7082109598847459638",
    "q_ann_recall" -> "5:4049732873305587337",
    "q_stream_neardup" -> "17:-26516153700333976600",
    "q_video_mixed_neardup" -> "1386:-4864660126525001134")

  /** Row count plus the sum of per-row hashes: independent of row order
    * and partitioning. Doubles are rounded to 6 places first so summation
    * order inside an aggregate cannot change the digest.
    */
  def digest(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6) + lit(0.0))
        case _ => c
      }
    }
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).first()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
