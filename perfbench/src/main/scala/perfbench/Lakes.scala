package perfbench

import java.time.{DayOfWeek, LocalDate}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.SparkSession

/** Seeded B3-shaped raw lakes. The program under test only ever sees the
  * parquet written here; the Scala-side rows are kept to predict what the
  * pipeline must produce. Files are written with parquet-hadoop directly:
  * a Spark job per lake would put seconds of generator cost into every
  * set-up.
  */
object Lakes {

  private val v1Schema = MessageTypeParser.parseMessageType(
    """message raw_v1 {
      |  optional int32 segment;
      |  optional binary cod (STRING);
      |  optional binary asset (STRING);
      |  optional binary type (STRING);
      |  optional binary part (STRING);
      |  optional int32 partAcum;
      |  optional binary theoricalQty (STRING);
      |}""".stripMargin)

  private val v2Schema = MessageTypeParser.parseMessageType(
    """message raw_v2 {
      |  optional binary setor (STRING);
      |  optional binary codigo (STRING);
      |  optional binary acao (STRING);
      |  optional binary tipo (STRING);
      |  optional double porcentagem_participacao;
      |  optional double porcentagem_participacao_acumulada;
      |  optional int64 quantidade_teorica;
      |  optional binary data_pregao (STRING);
      |}""".stripMargin)

  /** Writes one snappy parquet file; `fill` appends a row's non-null fields. */
  private def writeFile[T](spark: SparkSession, file: String, schema: MessageType,
                           rows: Seq[T])(fill: (Group, T) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
  }

  /** Trading days (Mon-Fri) starting 2024-01-02. */
  def tradingDays(n: Int): Vector[String] =
    Iterator.iterate(LocalDate.of(2024, 1, 2))(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
      .take(n).map(_.toString).toVector

  /** `n` distinct B3-style tickers, e.g. `PETR4`. */
  def tickers(rng: java.util.SplittableRandom, n: Int): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    val suffix = Array("3", "4", "11")
    while (out.size < n) {
      val letters = (0 until 4).map(_ => ('A' + rng.nextInt(26)).toChar).mkString
      out += letters + suffix(rng.nextInt(suffix.length))
    }
    out.toVector
  }

  /** `1.234.567` — the v1 thousands-formatted quantity. */
  private def dotted(v: Long): String =
    v.toString.reverse.grouped(3).mkString(".").reverse

  // ---------------------------------------------------------------- v1

  /** One v1 raw row. `cod == null` models the rows F1 must drop. */
  final case class V1(cod: String, asset: String, tpe: String, part: String,
                      partAcum: Int, qty: String, date: String) {
    def partValue: Double = part.replace(",", ".").toDouble
  }

  /** A v1 (English) lake: one Hive-style `date=` directory per trading
    * day holding one parquet file. `segment` is all-null (pruned by P2),
    * `part` is comma-decimal, `theoricalQty` dotted-thousands; some
    * `(cod, date)` keys repeat with a different `part` and some rows have
    * a null `cod`.
    */
  final class V1Lake(val path: String, val rows: Vector[V1], val days: Vector[String],
                     val codes: Vector[String]) {
    /** What D2 keeps: per `(code, day)` the row with the smallest `part`
      * (ticker and type are constant per code, so `part` decides).
      */
    lazy val kept: Map[(String, String), V1] =
      rows.filter(_.cod != null).groupBy(r => (r.cod, r.date))
        .map { case (k, rs) => k -> rs.minBy(_.partValue) }
    def refinedRows: Long = kept.size.toLong
    lazy val daysOf: Map[String, Int] = kept.keys.groupBy(_._1).map { case (c, ks) => c -> ks.size }
    lazy val codesOn: Map[String, Int] = kept.keys.groupBy(_._2).map { case (d, ks) => d -> ks.size }

    /** Plain-Scala recomputation of the 7-row rolling bundle for one
      * ticker: (day, part, mean, median, std, max, min, initial_date).
      */
    def rollingStats(code: String, n: Int = 7): Vector[(String, Double, Double, Double, Option[Double], Double, Double, String)] = {
      val series = kept.collect { case ((c, d), r) if c == code => d -> r.partValue }
        .toVector.sortBy(_._1)
      val initial = series.head._1
      series.indices.map { i =>
        val frame = series.slice(math.max(0, i - n + 1), i + 1).map(_._2)
        val sum = frame.sum
        val mean = sum / frame.size
        val sorted = frame.sorted
        val median = sorted((frame.size + 1) / 2 - 1)
        val sq = frame.map(x => x * x).sum
        val std = if (frame.size > 1)
          Some(math.sqrt(math.max(sq - sum * sum / frame.size, 0.0) / (frame.size - 1))) else None
        (series(i)._1, series(i)._2, mean, median, std, frame.max, frame.min, initial)
      }.toVector
    }
  }

  def genV1(spark: SparkSession, path: String, seed: Long, nCodes: Int, nDays: Int): V1Lake = {
    val rng = new java.util.SplittableRandom(seed)
    val codes = tickers(rng, nCodes)
    val types = codes.map(_ => Vector("ON", "PN", "UNT")(rng.nextInt(3)))
    val days = tradingDays(nDays)
    val rows = Vector.newBuilder[V1]
    for (d <- days; (c, i) <- codes.zipWithIndex if rng.nextDouble() < 0.95) {
      def one(): V1 = V1(c, s"Company $c", types(i),
        f"${rng.nextInt(15)},${rng.nextInt(1000)}%03d",
        rng.nextInt(100), dotted(100000L + rng.nextLong(5000000000L)), d)
      rows += one()
      if (rng.nextDouble() < 0.05) rows += one() // duplicate (cod, date)
      if (rng.nextDouble() < 0.02) rows += one().copy(cod = null)
    }
    val all = rows.result()
    all.groupBy(_.date).foreach { case (d, rs) =>
      writeFile(spark, s"$path/date=$d/part-00000.parquet", v1Schema, rs) { (g, r) =>
        if (r.cod != null) g.append("cod", r.cod)
        g.append("asset", r.asset).append("type", r.tpe).append("part", r.part)
          .append("partAcum", r.partAcum).append("theoricalQty", r.qty)
      }
    }
    new V1Lake(path, all, days, codes)
  }

  // ---------------------------------------------------------------- v2

  /** One v2 raw row (nullable columns as boxed values). */
  final case class V2(setor: String, codigo: String, acao: String, tipo: String,
                      pct: java.lang.Double, pctAcum: java.lang.Double,
                      qty: java.lang.Long, date: String) {
    /** The `(data_pregao, codigo_acao)` partition the v2 chain puts it in. */
    def partition: (String, String) =
      (Option(date).getOrElse("1970-01-01"), Option(codigo).getOrElse("UNKNOWN"))
  }

  /** The v2 (Portuguese) files of one trading day, written as a single
    * parquet file that carries `data_pregao` in its columns.
    */
  final class V2Day(val day: String, val rows: Vector[V2], var file: String = null) {
    /** Row count per partition after D1 (full-row distinct). */
    lazy val partitionRows: Map[(String, String), Long] =
      rows.distinct.groupBy(_.partition).map { case (p, rs) => p -> rs.size.toLong }
  }

  private def genV2Day(rng: java.util.SplittableRandom, day: String, codes: Vector[String],
                       sectors: Vector[String]): V2Day = {
    def boxD(v: Double): java.lang.Double = if (rng.nextDouble() < 0.03) null else v
    val rows = Vector.newBuilder[V2]
    codes.zipWithIndex.foreach { case (c, i) =>
      if (rng.nextDouble() < 0.97) {
        val r = V2(
          if (rng.nextDouble() < 0.05) null else sectors(i % sectors.size),
          if (rng.nextDouble() < 0.01) null else c,
          if (rng.nextDouble() < 0.03) null else s"Empresa $c",
          if (rng.nextDouble() < 0.03) null else Vector("ON", "PN")(i % 2),
          boxD(rng.nextInt(15000) / 1000.0), boxD(rng.nextInt(100000) / 1000.0),
          if (rng.nextDouble() < 0.03) null else java.lang.Long.valueOf(100000L + rng.nextLong(5000000000L)),
          if (rng.nextDouble() < 0.02) null else day)
        rows += r
        if (rng.nextDouble() < 0.05) rows += r // full-row duplicate
      }
    }
    new V2Day(day, rows.result())
  }

  /** Writes one v2 file per day at `root/file_day=<day>/part-00000.parquet`.
    * `file_day` is only the directory name: readers either list
    * recursively (EP3) or take one file (EP1), so neither infers it as a
    * column — `data_pregao` inside the file is what the v2 chain
    * partitions by.
    */
  def genV2(spark: SparkSession, root: String, seed: Long, codes: Vector[String],
            days: Vector[String]): Vector[V2Day] = {
    val rng = new java.util.SplittableRandom(seed)
    val sectors = Vector("Financeiro", "Energia", "Materiais", "Consumo", "Saude")
    days.map { d =>
      val day = genV2Day(rng, d, codes, sectors)
      day.file = s"$root/file_day=$d/part-00000.parquet"
      writeFile(spark, day.file, v2Schema, day.rows) { (g, r) =>
        Option(r.setor).foreach(g.append("setor", _))
        Option(r.codigo).foreach(g.append("codigo", _))
        Option(r.acao).foreach(g.append("acao", _))
        Option(r.tipo).foreach(g.append("tipo", _))
        Option(r.pct).foreach(v => g.append("porcentagem_participacao", v.doubleValue))
        Option(r.pctAcum).foreach(v => g.append("porcentagem_participacao_acumulada", v.doubleValue))
        Option(r.qty).foreach(v => g.append("quantidade_teorica", v.longValue))
        Option(r.date).foreach(g.append("data_pregao", _))
      }
      day
    }
  }
}
