package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, out: Path, genOnly: Boolean, tables: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("gen-only", "0") == "1",
      Paths.get(m.getOrElse("tables", ".")).toAbsolutePath)
  }
}

/** One workload: generated inputs, set-up, a measured closed loop,
  * and output checks made after the measured window.
  */
trait Workload {
  /** Write the seeded inputs under `dir` (untimed); `spark` is only
    * started if the generator needs it.
    */
  def generate(dir: Path, spark: => SparkSession): Unit
  /** Fixtures the program builds (timed in every set-up round). */
  def fixtures(spark: SparkSession): Unit
  /** Drop what `fixtures` built, before the next set-up round. */
  def teardown(spark: SparkSession): Unit
  /** One warm-up pass after the last round (timed as set-up). */
  def warmup(spark: SparkSession): Unit
  /** Run the closed loop until `deadlineNs`. */
  def run(spark: SparkSession, deadlineNs: Long): Measured
  /** After the window, before the heap is sampled: put away what the
    * benchmark itself keeps for the checks, so it is not counted as
    * the program's live heap.
    */
  def settle(spark: SparkSession): Unit = ()
  /** Compare the outputs with the planted truth; one entry per check. */
  def check(spark: SparkSession): Seq[Check]
  /** Layer counters reported in the traced run, keyed by metric name. */
  def counters: Map[String, Double] = Map.empty
  /** Concurrent closed loops in the window (spans of each overlap). */
  def loops: Int = 1
}

final case class Check(name: String, ok: Boolean, detail: String = "")

/** What one measured window produced. `items` is the throughput
  * numerator (rows, documents or requests); `latencies` are the per-
  * operation samples behind the tail; `p50` and `writeP50` the
  * workload's typical operation and write latency, from `writeN`
  * write samples; `recall` the workload's output-quality ratio.
  */
final case class Measured(items: Double, busySeconds: Double, latencies: Seq[Double],
                          p50: Double, writeP50: Double, writeN: Int, attempted: Long, failed: Long,
                          recall: Double, itemUnit: String,
                          byKind: Map[String, Seq[Double]] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The geometric mean of the per-kind medians: each kind of
    * operation weighs the same however many of it a window held.
    */
  def kindP50(kinds: Iterable[Seq[Double]]): Double = {
    val meds = kinds.filter(_.nonEmpty).map(median)
    require(meds.nonEmpty, "no samples")
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest sample), reported with that percentile, but never
    * below the median: under 21 samples no higher percentile has ten
    * beyond it, and the median is reported.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.length
    if (n >= 21) (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n)
    else (median(xs), 50.0)
  }
}

object Io {
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val f = p.toFile
    def rm(x: File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete() }
    rm(f)
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }

  /** Order-insensitive content hash of collected rows: the sum of the
    * rows' 64-bit digests, so equal multisets of rows hash equal.
    */
  def rowsHash(rows: Array[Row]): Long = rows.iterator.map { r =>
    val d = MessageDigest.getInstance("SHA-256").digest(r.toString.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }.sum

  /** Digest of every regular file under `root` (relative path and
    * bytes), in path order. Workbooks are zip archives that stamp
    * entry times, so `.xlsx` files are digested by their entries;
    * `.parquet` files by what `parquetContent` gives for them.
    */
  def treeDigest(root: Path, parquetContent: Path => Array[Byte]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .filterNot(_.getFileName.toString.startsWith("."))
      .sortBy(p => root.relativize(p).toString)
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes(StandardCharsets.UTF_8))
      if (f.toString.endsWith(".xlsx")) {
        val zin = new java.util.zip.ZipInputStream(Files.newInputStream(f))
        try {
          var e = zin.getNextEntry
          while (e != null) {
            md.update(e.getName.getBytes(StandardCharsets.UTF_8)); md.update(zin.readAllBytes())
            e = zin.getNextEntry
          }
        } finally zin.close()
      } else if (f.toString.endsWith(".parquet")) md.update(parquetContent(f))
      else md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Writes generated rows as a parquet directory of `parts` files with
  * fixed names, the rows dealt out in order, so the same rows always
  * give the same bytes and readers get `parts` splits. One job: part
  * k of the written RDD holds chunk k and lands as `part-0000k-*`.
  */
object Parts {
  def write(dir: Path, df: org.apache.spark.sql.DataFrame, parts: Int): Unit = {
    Io.deleteTree(dir)
    val rows = df.collect().toSeq
    val chunks = rows.grouped(math.max(1, (rows.size + parts - 1) / parts)).toSeq
    val spark = df.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(chunks, chunks.size).flatMap(identity), df.schema)
      .write.parquet(dir.toString)
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet")) Files.move(p, dir.resolve(s"part-${n.substring(5, 10)}.parquet"))
      else Files.delete(p)
    }
  }
}
