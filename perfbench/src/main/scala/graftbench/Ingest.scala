package graftbench

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{PipelineConfig, QualityGates}
import graft.operators.{CleanOps, PatternRouter, Quality}
import graft.sources.{Sinks, Sources, Xls, Xlsx}
import graft.streaming.StreamIngest

/** The file-ingest generator: waves of small files landed in a drop
  * zone, each wave a pure function of (seed, wave number).
  */
object IngestGen {
  /** stem -> (format, header, name column, amount/price columns). */
  final case class Table(stem: String, format: String, header: Seq[String],
                         nameCol: Int, amountCols: Seq[Int], dateCols: Seq[Int])

  val tables: Seq[Table] = Seq(
    Table("sales_data", "csv", Seq(" Sale Date ", "Customer  Name", "Amount ($)", "Unit-Price", "Region"),
      1, Seq(2, 3), Seq(0)),
    Table("customer_data", "csv", Seq("Customer ID", "Name", "Contact Name", "Signup Date", "Credit Amount"),
      1, Seq(4), Seq(3)),
    Table("transactions", "csv", Seq("Txn Date", "Payee", "Amount", "Fee Amount"),
      1, Seq(2, 3), Seq(0)),
    Table("reports", "csv", Seq("Report Date", "Title", "Total Amount"), 1, Seq(2), Seq(0)),
    // a duplicated header, which the pipeline's name dedup resolves
    Table("product_info", "xlsx", Seq("Product ID", "Product Name", "List Price", "Launch Date", "list price"),
      1, Seq(2, 4), Seq(3)),
    Table("inventory", "xls", Seq("SKU", "Warehouse", "Qty", "Unit Price", "Restock Date"),
      1, Seq(3), Seq(4)))
  /** Paths the pattern mapping does not know: routed nowhere. */
  val unrouted: Table = Table("misc_notes", "csv", Seq("Note Date", "Author", "Amount"), 1, Seq(2), Seq(0))

  val charsets: Seq[String] = Seq("utf-8", "utf-8-sig", "cp1252", "latin1")
  val gates: QualityGates = QualityGates(maxFileSizeMb = Some(0.25))
  val config: PipelineConfig = PipelineConfig.default.copy(quality = gates)
  def target(stem: String): Option[String] =
    PatternRouter.defaultMapping.find { case (p, _) => stem.contains(p) }.map(_._2)

  private val ascii = Seq("acme", "north", "delta", "harbor", "summit", "pine", "river", "stone", "maple", "cedar")
  private val western = Seq("café", "müller", "señor", "øresund", "garçon", "über", "élan", "naïve")
  private val cp1252Only = Seq("€uro", "“quoted”", "dash–co", "œuvre")
  private val utf8Only = Seq("łódź", "straße", "ζeta", "čapek")

  /** One landed file: its name, bytes, and what it must contribute. */
  final case class FileSpec(name: String, bytes: Array[Byte], stem: String, format: String,
                            charset: String, rows: Long, amountSum: Double, nameChars: Long,
                            rejectReason: Option[String])

  def wave(seed: Long, i: Int): Seq[FileSpec] = {
    val rng = new Random(seed * 1000003L + i)
    val out = mutable.ArrayBuffer.empty[FileSpec]
    def word(cs: String): String = {
      val pool = cs match {
        case "cp1252" => ascii ++ western ++ cp1252Only
        case "latin1" => ascii ++ western
        case _ => ascii ++ western ++ utf8Only
      }
      pool(rng.nextInt(pool.length))
    }
    // (cell text, parsed amount or None when unparseable)
    def amount(): (String, Option[Double]) =
      if (rng.nextDouble() < 0.06) (Seq("N/A", "12,50", "$7", "tbd")(rng.nextInt(4)), None)
      else { val c = 100 + rng.nextInt(999900); (f"${c / 100}%d.${c % 100}%02d", Some(c / 100.0)) }
    def date(): String =
      if (rng.nextDouble() < 0.06) "not-a-date"
      else f"2024-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
    def rowsFor(t: Table, n: Int, cs: String): (Seq[Seq[String]], Double, Long) = {
      var sum = 0.0; var chars = 0L
      val rows = (0 until n).map { r =>
        t.header.indices.map { c =>
          if (c == t.nameCol) {
            val s = s"${word(cs)} ${word(cs)}"; chars += s.codePointCount(0, s.length); s
          } else if (t.amountCols.contains(c)) { val (s, v) = amount(); sum += v.getOrElse(0.0); s }
          else if (t.dateCols.contains(c)) date()
          else s"${t.stem.take(3)}-$i-$r-$c"
        }
      }
      (rows, sum, chars)
    }
    def csvBytes(header: Seq[String], rows: Seq[Seq[String]], cs: String): Array[Byte] = {
      val eol = if (cs == "cp1252") "\r\n" else "\n"
      def cell(v: String) = if (v.contains(",")) "\"" + v + "\"" else v
      val text = (header +: rows).map(_.map(cell).mkString(",")).mkString("", eol, eol)
      cs match {
        case "utf-8-sig" => Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ text.getBytes(StandardCharsets.UTF_8)
        case "cp1252" => text.getBytes(Charset.forName("windows-1252"))
        case "latin1" => text.getBytes(StandardCharsets.ISO_8859_1)
        case _ => text.getBytes(StandardCharsets.UTF_8)
      }
    }
    val w = f"w$i%05d"
    // a fixed rotation of what lands, so waves cost alike: two of the
    // CSV tables (two files each), a workbook every other wave
    // (alternating xlsx and xls), an unrouted path every fifth wave;
    // charsets and row counts vary with the seed
    val csvTables = tables.filter(_.format == "csv")
    val pair = Seq(csvTables(i % 4), csvTables((i + 1) % 4))
    val good = pair ++ pair ++ (i % 4 match {
      case 0 => Seq(tables(4)); case 2 => Seq(tables(5)); case _ => Nil
    }) ++ (if (i % 5 == 0) Seq(unrouted) else Nil)
    good.zipWithIndex.foreach { case (t, k) =>
      val cs = if (t.format == "csv") charsets(rng.nextInt(charsets.length)) else "utf-8"
      val n = 20 + rng.nextInt(160)
      val (rows, sum, chars) = rowsFor(t, n, cs)
      val name = s"${t.stem}_${w}_f$k.${t.format}"
      val bytes = t.format match {
        case "csv" => csvBytes(t.header, rows, cs)
        case fmt =>
          // workbooks carry numeric cells where the text parses
          val typed: Seq[Seq[Any]] = rows.map(_.zipWithIndex.map { case (v, c) =>
            if (t.amountCols.contains(c)) v.toDoubleOption.getOrElse(v) else v
          })
          val tmp = Files.createTempFile("graftbench", "." + fmt)
          try {
            if (fmt == "xlsx") Xlsx.write(tmp.toString, t.header, typed)
            else Xls.write(tmp.toString, t.header, typed)
            Files.readAllBytes(tmp)
          } finally Files.deleteIfExists(tmp)
      }
      out += FileSpec(name, bytes, t.stem, t.format, cs, n, sum, chars, None)
    }
    // one gate case per wave, in rotation: files the gates must
    // reject, and a header-only file they pass
    val sales = tables.head
    i % 4 match {
      case 0 => out += FileSpec(s"sales_data_${w}_empty.csv", Array.emptyByteArray, "sales_data", "csv",
        "utf-8", 0, 0, 0, Some("empty_file"))
      case 1 => out += FileSpec(s"reports_${w}_blankhdr.csv",
        csvBytes(Seq("Report Date", "", "Total Amount"), rowsFor(tables(3), 5, "utf-8")._1, "utf-8"),
        "reports", "csv", "utf-8", 0, 0, 0, Some("missing_header"))
      case 2 => out += FileSpec(s"transactions_${w}_hdronly.csv", csvBytes(tables(2).header, Nil, "utf-8"),
        "transactions", "csv", "utf-8", 0, 0, 0, None)
      case _ => if (i % 8 == 3) out += FileSpec(s"sales_data_${w}_big.csv",
        csvBytes(sales.header, rowsFor(sales, 6000, "utf-8")._1, "utf-8"),
        "sales_data", "csv", "utf-8", 0, 0, 0, Some("file_too_large"))
    }
    out.toSeq
  }

  /** One ingest area: drop zone, staging, warehouse and stream dirs. */
  final case class Dirs(base: Path) {
    val drop: Path = base.resolve("dropzone"); val staging: Path = base.resolve("staging")
    val warehouse: Path = base.resolve("warehouse"); val log: Path = base.resolve("ingest_log")
    val streamIn: Path = base.resolve("stream_in"); val streamOut: Path = base.resolve("stream_out")
    val streamCkpt: Path = base.resolve("stream_ckpt")
    val streamRejects: Path = base.resolve("stream_rejects")
  }

  def land(files: Seq[FileSpec], dir: Path): Unit = {
    Files.createDirectories(dir)
    files.foreach(f => Files.write(dir.resolve(f.name), f.bytes))
  }
}

/** The reference's own traffic, the first step of `curate`'s cycle: a
  * wave of small files lands in the drop zone; the gate,
  * per-group reads, the clean/route pipeline, parquet appends, a
  * streaming drain of the wave's CSV files and a profile of the
  * growing tables run; then the next wave lands.
  */
final class Ingest(seed: Long, root: Path) {
  import IngestGen._

  private val live = Dirs(root.resolve("live"))
  private val streamSchema = StructType((0 until 5).map(i => StructField(s"c$i", StringType)))

  // planted truth, accumulated over the waves the loop processed
  private val truthRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val truthSum = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val truthChars = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val truthStreamRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val truthRejected = mutable.Set.empty[String]
  private val truthStreamRejected = mutable.Set.empty[String]
  private val gotRejected = mutable.Set.empty[String]
  private var nextWave = 0

  /** Waves are made as the loop reaches them; this writes the first
    * six, which the generator determinism test compares.
    */
  def generate(dir: Path): Unit = (0 until 6).foreach(i => land(wave(seed, i), dir.resolve(f"wave$i%05d")))

  def warmup(spark: SparkSession): Unit = {
    // one wave through the whole path into a scratch area
    val warm = Dirs(root.resolve("warmup"))
    Io.deleteTree(root.resolve("warmup"))
    (0 until 1).foreach { i =>
      val files = wave(seed ^ 0x5eed, 90000 + i)
      land(files, warm.drop.resolve(f"w${90000 + i}%05d"))
      land(files.filter(_.format == "csv"), warm.streamIn)
      processWave(spark, warm, 90000 + i, files, record = false)
    }
  }

  def teardown(spark: SparkSession): Unit = Io.deleteTree(root.resolve("warmup"))

  /** Land the next wave and process it. Returns (seconds from landing
    * to commit, seconds of each sink write, rows landed).
    */
  def step(spark: SparkSession): (Double, Seq[Double], Long) = {
    if (nextWave == 0) Io.deleteTree(root.resolve("live"))
    val files = wave(seed, nextWave)
    land(files, live.drop.resolve(f"w$nextWave%05d"))
    land(files.filter(_.format == "csv"), live.streamIn)
    val t0 = System.nanoTime()
    val (_, writes) = processWave(spark, live, nextWave, files, record = true)
    nextWave += 1
    ((System.nanoTime() - t0) / 1e9, writes, files.map(_.rows).sum)
  }

  /** Process one landed wave. Returns (rows written, seconds of each
    * sink write).
    */
  private def processWave(spark: SparkSession, d: Dirs, waveNo: Int,
                          files: Seq[FileSpec], record: Boolean): (Long, Seq[Double]) = {
    val waveId = f"w$waveNo%05d"
    val drop = d.drop.resolve(waveId)
    if (record) files.foreach { f =>
      f.rejectReason match {
        case Some(_) => truthRejected += f.name; if (f.format == "csv") truthStreamRejected += f.name
        case None => target(f.stem).foreach { t =>
          truthRows(t) += f.rows; truthSum(t) += f.amountSum; truthChars(t) += f.nameChars
          if (f.format == "csv") truthStreamRows(t) += f.rows
        }
      }
    }
    val (accepted, rejected) = Trace.span(spark, "sources.read") {
      Sources.fileGate(spark, drop.toString, gates, Seq(".csv", ".xlsx", ".xls"))
    }
    if (record) gotRejected ++= rejected.map(_._1)
    Trace.count("sources.read.rejected_files", rejected.size)
    // the watcher hands each accepted file to the loader for its
    // pattern; files of one stem share a header, so they load together
    val groups = accepted.map(p => new org.apache.hadoop.fs.Path(p).getName)
      .groupBy(n => (n.substring(0, n.indexOf("_w")), n.substring(n.lastIndexOf('.') + 1)))
    var written = 0L
    val writes = mutable.ArrayBuffer.empty[Double]
    val logRows = mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    groups.toSeq.sortBy(_._1).foreach { case ((stem, fmt), names) =>
      val t0 = System.nanoTime()
      val dir = d.staging.resolve(waveId).resolve(s"$stem.$fmt")
      Files.createDirectories(dir)
      names.foreach(n => Files.move(drop.resolve(n), dir.resolve(n), StandardCopyOption.ATOMIC_MOVE))
      Trace.count("sources.read.files", names.size)
      Trace.count("sources.read.bytes", names.map(n => Files.size(dir.resolve(n))).sum)
      if (fmt == "csv") Trace.count("sources.read.rescued_files",
        files.count(f => names.contains(f.name) && (f.charset == "cp1252" || f.charset == "latin1")))
      val raw = Trace.frame(spark, "sources.read") {
        // the drop zone's declared layout: every column read as text
        // and typed by the pipeline, so each wave appends the same
        // schema whatever its cells hold
        if (fmt == "csv") Sources.csvAutoCharset(spark, dir.toString, Some(StructType(
          (tables :+ unrouted).find(_.stem == stem).get.header.map(StructField(_, StringType)))))
        else Xlsx.read(spark, dir.toString)
      }
      if (Trace.enabled) Trace.count("sources.read.rows", raw.count())
      val routed = Trace.frame(spark, "operators.clean") {
        val cleaned = CleanOps.ingestPipeline(raw, stem, s"ingest_$waveId")
          .withColumn("source_path", lit(dir.toString))
        PatternRouter.route(cleaned, "source_path").drop("source_path")
      }
      if (Trace.enabled) {
        val in = raw.count(); val out = routed.count()
        Trace.count("operators.clean.rows_in", in); Trace.count("operators.clean.rows_out", out)
        Trace.count("operators.clean.unrouted_rows", in - out)
      }
      val obs = Observation(s"rows_${stem}_$fmt")
      val w0 = System.nanoTime()
      Trace.span(spark, "sources.write") {
        Sinks.parquet(routed.observe(obs, count(lit(1)).as("n")), d.warehouse.toString,
          "append", partitionBy = Seq("target_table"))
      }
      writes += (System.nanoTime() - w0) / 1e9
      val n = obs.get("n").asInstanceOf[Long]
      written += n
      logRows += ((if (target(stem).isDefined) "success" else "skipped", stem, n,
        (System.nanoTime() - t0) / 1e9))
    }
    Trace.count("sources.write.rows", written)
    // streaming drain of the wave's CSV files (AvailableNow catch-up)
    Trace.span(spark, "streaming.drain") {
      val q: StreamingQuery = StreamIngest.gatedRoutedSink(
        StreamIngest.fileStream(spark, d.streamIn.toString, streamSchema),
        d.streamOut.toString, d.streamCkpt.toString, config, d.streamRejects.toString).start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.foreach { p =>
        Trace.count("streaming.drain.batches")
        Trace.count("streaming.drain.add_batch_ms", Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L))
        Trace.count("streaming.drain.wal_commit_ms", Option(p.durationMs.get("walCommit")).map(_.longValue).getOrElse(0L))
      }
    }
    // reads beside the writes: profile the tables this wave touched
    // and the processing stats of the ingest log
    val w1 = System.nanoTime()
    import spark.implicits._
    Trace.span(spark, "sources.write") {
      Sinks.parquet(logRows.toSeq.toDF("status", "source", "rows_processed", "processing_time_seconds"),
        d.log.toString, "append")
    }
    writes += (System.nanoTime() - w1) / 1e9
    Trace.span(spark, "operators.clean") {
      val touched = groups.keys.map(_._1).flatMap(target).toSeq.distinct.sorted
      val t = touched(waveNo % touched.size)
      val table = Sources.parquet(spark, d.warehouse.resolve(s"target_table=$t").toString)
      Quality.profile(table, table.columns.toSeq.filterNot(_ == "processing_batch"),
        approxDistinct = true).collect()
      Quality.processingStats(Sources.parquet(spark, d.log.toString)).collect()
    }
    (written, writes.toSeq)
  }

  def check(spark: SparkSession): Seq[Check] = {
    val wh = live.warehouse
    val tableChecks = truthRows.keys.toSeq.sorted.flatMap { t =>
      val df = spark.read.parquet(wh.resolve(s"target_table=$t").toString)
      val amountCols = df.columns.filter(c => c.contains("amount") || c.contains("price"))
      val nameCol = df.columns.find(c => Seq("name", "payee", "title", "warehouse").exists(c.contains)).get
      val r = df.agg(count(lit(1)), amountCols.map(c => coalesce(sum(col(c)), lit(0.0))).reduce(_ + _),
        sum(length(col(nameCol)))).head()
      val (n, s, chars) = (r.getLong(0), r.getDouble(1), r.getLong(2))
      Seq(
        Check(s"ingest.rows.$t", n == truthRows(t), s"got $n want ${truthRows(t)}"),
        Check(s"ingest.amount_sum.$t", math.abs(s - truthSum(t)) <= 1e-6 * math.max(1.0, truthSum(t)),
          f"got $s%.4f want ${truthSum(t)}%.4f"),
        Check(s"ingest.name_chars.$t", chars == truthChars(t), s"got $chars want ${truthChars(t)}"))
    }
    val extraTables = Option(wh.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("target_table=")).map(_.stripPrefix("target_table="))
      .filterNot(truthRows.contains)
    val streamRows = spark.read.parquet(live.streamOut.toString)
      .groupBy(col("target_table")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamWant = truthStreamRows.toMap.filter(_._2 > 0)
    val streamRejects = spark.read.parquet(live.streamRejects.toString)
      .filter(col("status") === "error").select("source_name").collect().map(_.getString(0)).toSet
    val (got, want, wantStream) = (gotRejected.toSet, truthRejected.toSet, truthStreamRejected.toSet)
    tableChecks ++ Seq(
      Check("ingest.no_unplanted_tables", extraTables.isEmpty, extraTables.mkString(",")),
      Check("ingest.rejected_files", got == want,
        s"extra=${(got -- want).toSeq.sorted.take(5)} missing=${(want -- got).toSeq.sorted.take(5)}"),
      Check("ingest.stream_rows", streamRows == streamWant, s"got $streamRows want $streamWant"),
      Check("ingest.stream_rejected_files", streamRejects == wantStream,
        s"extra=${(streamRejects -- wantStream).take(5)} missing=${(wantStream -- streamRejects).take(5)}"))
  }

  def counters: Map[String, Double] = {
    val files = Option(live.warehouse.toFile).toSeq.flatMap(f => Files.walk(f.toPath).iterator().asScala)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    Map("sources.write.files" -> files.size.toDouble,
      "sources.write.bytes" -> files.map(Files.size).sum.toDouble)
  }
}
