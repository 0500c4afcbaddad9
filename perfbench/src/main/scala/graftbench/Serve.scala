package graftbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Ann, Cdc, Retrieval, Scd}
import graft.sources.{Sinks, Sources}

/** One `serve` request. Reads carry everything needed to re-run them
  * for the check; `key` identifies equal reads. Probes name their
  * vectors by `vec_id` and their keywords by frequency rank in the
  * documents table, so the stream needs no table to be generated.
  */
sealed trait Req { def key: String; def write: Boolean = false }
final case class QueryReq(name: String) extends Req { def key = s"query:$name" }
final case class AnnReq(probe: Long, partner: Long) extends Req { def key = s"ann:$probe:$partner" }
final case class Bm25Req(terms: Seq[Int]) extends Req { def key = s"bm25:${terms.mkString("+")}" }
final case class HybridReq(probe: Long, partner: Long, terms: Seq[Int]) extends Req {
  def key = s"hybrid:$probe:$partner:${terms.mkString("+")}"
}
final case class WriteReq(kind: String, seed: Long) extends Req {
  def key = s"$kind:$seed"; override def write = true
}

object ServeStream {
  /** Rows of the serve tables' `embeddings` and `customer`, and the
    * distinct words of `documents` (checked against the tables when
    * the probe data is loaded).
    */
  val Vectors = 2000
  val Customers = 15000
  val Terms = 31
  val PoolSize = 48

  /** Relational and temporal gate queries in the mix, most popular
    * first (the Zipf rank order).
    */
  val roster: Seq[String] = Seq(
    "q6_filter_agg", "q1_agg", "window_rank", "topk_group", "sessionize", "window_running",
    "agg_histogram", "q14_promo_share", "json_extract", "q19_disjunct", "q17_scalar", "asof_join",
    "q3_topn", "q18_bigcust")

  /** The Zipf(`s`) rank over `n` items at cumulative share `u`. */
  private def zipfAt(u: Double, n: Int, s: Double): Int = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    var x = u * w.sum
    var i = 0
    while (i < n - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  private def zipf(r: Random, n: Int, s: Double = 1.1): Int = zipfAt(r.nextDouble(), n, s)

  /** A generator for one (seed, stream) pair. The pair is hashed
    * (SplitMix64), because java.util.Random's first draws from nearby
    * seeds are correlated: unhashed, the four clients opened with the
    * same query.
    */
  def rng(seed: Long, stream: Long): Random = {
    var z = seed * 0x9E3779B97F4A7C15L + stream + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new Random(z ^ (z >>> 31))
  }

  /** Request kinds in a fixed rotation, so every run sends the same
    * mix: 4 gate queries, 2 ANN, 2 BM25 and 1 hybrid probe, and 3
    * writes in 12 requests. The proportions are an assumption of the
    * benchmark, not taken from measured traffic.
    */
  private val kinds = "QAWQBWQAWQBH"
  private val writeKinds = Seq("cdc_upsert", "scd2_merge", "ivf_append", "ivf_delete")

  /** The session's probe pool: [[PoolSize]] distinct indexed vectors,
    * each paired with another pool vector that is mixed into the probe
    * (see `Serve.probeVector`), so every probe lies in the span of the
    * pool's vectors.
    */
  def probePool(seed: Long): IndexedSeq[(Long, Long)] = {
    val ids = rng(seed, 1000).shuffle((0 until Vectors).toIndexedSeq).take(PoolSize).map(_.toLong)
    ids.indices.map(i => (ids(i), ids((i + 1 + i % 3) % ids.length)))
  }

  /** Client `c`'s request stream: a pure function of (seed, c). Each
    * client starts at its own point of the rotation; the seed picks
    * which query, probe and write parameters come, Zipf-skewed.
    *
    * Gate queries and probe vectors are drawn at quasi-random points of
    * the Zipf distribution: the golden-ratio sequence, its terms dealt
    * out over the clients in turn. A window of a few dozen requests
    * then holds close to the Zipf proportions, where independent draws
    * would swing its mix of cheap and costly queries from seed to seed.
    * For probe vectors the sequence starts at a seeded point. For gate
    * queries and keyword queries it starts at 0, so every window holds
    * nearly the same multiset of ranks (the costly gate queries decide
    * which requests overlap, and each distinct keyword query leaves a
    * cached frame behind), and the seed deals its terms out to the
    * clients in a seeded order.
    */
  def stream(seed: Long, c: Int, roster: Seq[String]): Iterator[Req] = {
    val r = rng(seed, c)
    val start = rng(seed, 1002).nextDouble()
    val slot = rng(seed, 1003).shuffle((0 until 4).toIndexedSeq).apply(c)
    def spread(k: Int, from: Double, slot: Int): Double = {
      val x = from + (k.toLong * 4 + slot) * 0.6180339887498949
      x - math.floor(x)
    }
    // probes repeat within the session: a seeded pool of probe vectors
    // and keyword queries, drawn Zipf-skewed
    val pool = rng(seed, 1001)
    val probes = probePool(seed)
    // two distinct words each: a query's cost grows with its word
    // count, so a fixed count keeps the window's probe cost steady. The
    // pool's queries are distinct word sets, so the window's repeats (a
    // repeated query reuses the frame its first run cached) come only
    // from the ranks drawn, which every seed draws alike
    val queries = {
      val distinct = scala.collection.mutable.LinkedHashSet.empty[Seq[Int]]
      while (distinct.size < PoolSize) {
        val a = zipf(pool, Terms, 1.0)
        distinct += Seq(a, Iterator.continually(zipf(pool, Terms, 1.0)).find(_ != a).get).sorted
      }
      distinct.toIndexedSeq
    }
    var nq, nt, np, nw = 0
    def terms(): Seq[Int] = { nt += 1; queries(zipfAt(spread(nt - 1, 0.0, slot), queries.length, 1.1)) }
    def probe(): (Long, Long) = { np += 1; probes(zipfAt(spread(np - 1, start, c), probes.length, 1.1)) }
    Iterator.from(3 * c).map { i =>
      kinds(i % kinds.length) match {
        case 'Q' => nq += 1; QueryReq(roster(zipfAt(spread(nq - 1, 0.0, slot), roster.length, 1.1)))
        case 'A' => val (p, x) = probe(); AnnReq(p, x)
        case 'B' => Bm25Req(terms())
        case 'H' => val (p, x) = probe(); HybridReq(p, x, terms())
        // each client's writes cycle through the four kinds from its
        // own starting kind, so a short window holds every kind
        case _ => nw += 1; WriteReq(writeKinds((nw - 1 + c) % writeKinds.length), r.nextLong())
      }
    }
  }
}

/** `serve`: one shared session (local[4], FAIR), four closed-loop
  * clients sending a seeded, Zipf-skewed mix of gate queries, ANN /
  * BM25 / hybrid probes against an IVF index built at set-up, and
  * writes (CDC upserts, SCD2 merges, index appends and deletes). No
  * cache clearing between requests. The read-only `tables` are the
  * project's sf0.1 test tables, kept in the benchmark's directory.
  */
final class Serve(seed: Long, root: Path, val tables: Path) extends Workload {
  val Clients = 4
  override def loops: Int = Clients
  private val index = root.resolve("ivf_index").toString
  // the index's list partitions; deletes only remove appended vectors,
  // so every list keeps rows throughout
  private val Lists = 16
  private val cdcTable = root.resolve("cdc_customers").toString
  private val scdRoot = root.resolve("scd")
  private val appended = new ConcurrentLinkedQueue[java.lang.Long]()
  private val deleted = ConcurrentHashMap.newKeySet[Long]()
  private val nextVec = new AtomicLong(1000000000L)
  private val lockRetries = new LongAdder
  private val missingRetries = new LongAdder
  private val tornListings = new LongAdder
  private val lostDeletes = new LongAdder
  private val rowsMerged = new LongAdder
  private val probes = new LongAdder
  private val planNs = new LongAdder
  private val queryReads = new LongAdder
  private val scdVersion = new ConcurrentHashMap[Int, Integer]()
  // the first result of each distinct read: later reads of the same
  // key must hash equal to it, and gate queries' first results go to
  // the DuckDB oracle check
  private val firstRows =
    new ConcurrentHashMap[String, (Req, Array[Row], org.apache.spark.sql.types.StructType, Long)]()
  private val mismatched = new LongAdder
  private val mismatchedKeys = ConcurrentHashMap.newKeySet[String]()
  private val readCount = new LongAdder
  private val queryCounts = new ConcurrentHashMap[String, LongAdder]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private lazy val roster = ServeStream.roster.filter(SparkEntry.oracleSql.contains)
  // loaded from the tables before the warm-up: indexed vectors by id,
  // the documents' words by frequency rank, and an orthonormal basis
  // of the probe pool's span
  private var vectors: Map[Long, Array[Float]] = _
  private var words: IndexedSeq[String] = _
  private var poolBasis: Seq[Array[Double]] = _

  /** Writes, for the record, the head of each client's request stream. */
  def generate(dir: Path, spark: => SparkSession): Unit =
    (0 until Clients).foreach { c =>
      Io.write(dir.resolve(s"requests_client$c.txt"),
        ServeStream.stream(seed, c, roster).take(2000).map(_.toString).mkString("", "\n", "\n"))
    }

  /** The IVF index, the CDC table and each client's SCD2 table. */
  def fixtures(spark: SparkSession): Unit = {
    Ann.buildIvfIndex(Sources.parquet(spark, tables.resolve("embeddings.parquet").toString),
      "vec_id", "embedding", index, nlist = Lists)
    val cust = Sources.parquet(spark, tables.resolve("customer.parquet").toString)
    Sinks.parquet(cust.withColumn("c_nationkey", (col("c_custkey") % 25).cast("int")), cdcTable,
      "replace", partitionBy = Seq("c_nationkey"))
    (0 until Clients).foreach { c =>
      Sinks.parquet(cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("valid_from", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp")), scdPath(c, 0), "replace")
      scdVersion.put(c, 0)
    }
  }

  private def loadProbeData(spark: SparkSession): Unit = {
    vectors = spark.read.parquet(tables.resolve("embeddings.parquet").toString)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    words = spark.read.parquet(tables.resolve("documents.parquet").toString)
      .select(explode(split(col("text"), " ")).as("w")).groupBy("w").count()
      .orderBy(col("count").desc, col("w")).collect().map(_.getString(0)).toIndexedSeq
    require(vectors.size == ServeStream.Vectors && words.size == ServeStream.Terms &&
      spark.read.parquet(tables.resolve("customer.parquet").toString).count() == ServeStream.Customers,
      s"serve tables differ from the sizes the request stream assumes: ${vectors.size} vectors, " +
        s"${words.size} words")
    // Gram-Schmidt over the pool's vectors
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    ServeStream.probePool(seed).map(_._1).foreach { id =>
      val v = vectors(id).map(_.toDouble)
      basis.foreach { q => val d = dot(v, q); v.indices.foreach(i => v(i) -= d * q(i)) }
      val n = math.sqrt(dot(v, v))
      if (n > 1e-9) basis += v.map(_ / n)
    }
    poolBasis = basis.toSeq
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = a.indices.map(i => a(i) * b(i)).sum

  /** Every gate query of the roster, each probe kind and each write
    * kind, spread over the clients, so the window runs on warm code.
    */
  def warmup(spark: SparkSession): Unit = {
    loadProbeData(spark)
    val (p, x) = ServeStream.probePool(seed).head
    // keyword queries of one and three words, so none is a pool query
    // whose cached frame a window read would find
    val probeReqs = Seq(AnnReq(p, x), Bm25Req(Seq(0)), Bm25Req(Seq(0, 1, 2)), HybridReq(x, p, Seq(1, 2, 3)))
    val reads = roster.map(QueryReq) ++ probeReqs
    // the reads are dealt out over the clients; clients 0 and 1 also
    // upsert and merge, and client 2 appends to the index first, then
    // deletes from it and appends again, so the window's first delete
    // finds vectors to remove
    val perClient = (0 until Clients).map { c =>
      val own = reads.zipWithIndex.collect { case (q, i) if i % Clients == c => q }
      c match {
        case 0 => WriteReq("cdc_upsert", 1) +: own
        case 1 => WriteReq("scd2_merge", 1) +: own
        case 2 => (WriteReq("ivf_append", 1) +: own) :+ WriteReq("ivf_delete", 1) :+ WriteReq("ivf_append", 2)
        case _ => own
      }
    }
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = perClient.zipWithIndex.map { case (qs, c) =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        try qs.foreach(execute(spark, _, c)) catch { case e: Throwable => errors.add(e) }
      }, s"serve-warmup-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    firstRows.clear(); mismatched.reset(); mismatchedKeys.clear(); readCount.reset(); queryCounts.clear()
    lockRetries.reset(); missingRetries.reset(); tornListings.reset(); lostDeletes.reset(); rowsMerged.reset(); probes.reset(); planNs.reset()
    queryReads.reset()
  }

  def teardown(spark: SparkSession): Unit = {
    Seq(index, cdcTable).foreach(p => Io.deleteTree(java.nio.file.Paths.get(p)))
    Io.deleteTree(scdRoot)
    appended.clear(); deleted.clear()
  }

  private def scdPath(c: Int, v: Int): String = scdRoot.resolve(s"client$c/v$v").toString

  /** A probe: an indexed vector with a tenth of its partner's mixed in. */
  private def probeVector(probe: Long, partner: Long): Array[Float] = {
    val (a, b) = (vectors(probe), vectors(partner))
    Array.tabulate(a.length)(i => a(i) + 0.1f * b(i))
  }

  private def annTop(spark: SparkSession, probe: Long, partner: Long): DataFrame = {
    import spark.implicits._
    wholeListing(Ann.ivfIndexTopK(spark, index, Seq(Tuple1(probeVector(probe, partner))).toDF("embedding"),
      "vec_id", "embedding", 10, 4))
  }

  private def bm25Top(spark: SparkSession, terms: Seq[Int]): DataFrame = {
    import spark.implicits._
    Retrieval.bm25BatchTopK(Sources.parquet(spark, tables.resolve("documents.parquet").toString),
      "doc_id", "text", terms.map(t => (1L, words(t))).toDF("query_id", "term"), 10)
  }

  /** Retry an index read (a probe, or the scan that starts a delete)
    * that saw the index in the middle of a concurrent delete's
    * partition swap: a file it listed was gone when read (counted in
    * `operators.index.missing_file_retries`), or its listing lacked a
    * list partition the delete had renamed away (counted in
    * `operators.index.torn_listing_retries`; such a probe would
    * silently miss that list's rows).
    */
  private def retryMissing[T](body: => T): T = {
    var out: Option[T] = None
    var tries = 0
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: Exception if missingFile(e) && tries < 20 =>
          tries += 1; missingRetries.increment()
        case _: TornListing if tries < 20 =>
          tries += 1; tornListings.increment()
      }
    }
    out.get
  }

  private final class TornListing extends Exception("index listing lacks a list partition")

  /** `df`, if the index listing it was built on holds every list
    * partition; throws [[TornListing]] otherwise.
    */
  private def wholeListing(df: DataFrame): DataFrame = {
    val lists = df.inputFiles.iterator.flatMap(f => "/list_id=(\\d+)/".r.findFirstMatchIn(f).map(_.group(1))).toSet
    if (lists.size < Lists) throw new TornListing
    df
  }

  private def missingFile(e: Throwable): Boolean = e != null &&
    (e.isInstanceOf[java.io.FileNotFoundException] ||
      String.valueOf(e.getMessage).contains("FILE_NOT_EXIST") || missingFile(e.getCause))

  /** Run a read; returns its collected rows and their schema. */
  private def read(spark: SparkSession, q: Req): (Array[Row], org.apache.spark.sql.types.StructType) = {
    def collect(df: DataFrame) = (df.collect(), df.schema)
    q match {
      case QueryReq(name) => Trace.span(spark, "queries") {
        queryCounts.computeIfAbsent(name, _ => new LongAdder).increment()
        val df = SparkEntry.queries(name)(spark, tables.toString)
        if (Trace.enabled) {
          val t0 = System.nanoTime(); df.queryExecution.executedPlan; planNs.add(System.nanoTime() - t0)
          queryReads.increment()
        }
        collect(df)
      }
      case AnnReq(p, x) => Trace.span(spark, "operators.index") {
        probes.increment()
        // the index is listed when the frame is built, so a retry
        // builds the frame again
        retryMissing(collect(annTop(spark, p, x)))
      }
      case Bm25Req(terms) => Trace.span(spark, "operators.index") {
        probes.increment(); collect(bm25Top(spark, terms))
      }
      case HybridReq(p, x, terms) => Trace.span(spark, "operators.index") { retryMissing {
        probes.increment()
        val byCos = Window.orderBy(col("cos").desc, col("vec_id"))
        val a = annTop(spark, p, x).withColumn("rank", row_number().over(byCos))
          .select(col("vec_id").as("id"), col("rank"))
        val b = bm25Top(spark, terms).select(col("doc_id").as("id"), col("rk").as("rank"))
        collect(Retrieval.rrfFuse(a, b, "id"))
      } }
      case w: WriteReq => throw new IllegalArgumentException(s"not a read: $w")
    }
  }

  /** Retry a write that found its artifact's writer lock held. */
  private def locked[T](body: => T): T = {
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case _: java.util.ConcurrentModificationException =>
          lockRetries.increment(); Thread.sleep(5 + Random.nextInt(20))
      }
    }
    out.get
  }

  /** Run a write; returns the ids an index delete removed. */
  private def write(spark: SparkSession, w: WriteReq, client: Int): Seq[Long] = {
    import spark.implicits._
    val r = new Random(w.seed)
    w.kind match {
      case "cdc_upsert" => Trace.span(spark, "operators.table") {
        val keys = Seq.fill(20)(r.nextInt(ServeStream.Customers + 500).toLong).distinct
        val changes = keys.map(k => (k, f"Customer#$k%09d", (k % 25).toInt,
          math.round(r.nextDouble() * 1000000) / 100.0, "BUILDING"))
          .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        locked(Cdc.upsertPartitioned(spark, cdcTable, changes, Seq("c_custkey"), "c_nationkey"))
        rowsMerged.add(keys.size)
        Nil
      }
      case "scd2_merge" => Trace.span(spark, "operators.table") {
        val v: Int = scdVersion.get(client)
        val keys = Seq.fill(20)(r.nextInt(ServeStream.Customers).toLong).distinct
        val at = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + (v + 1) * 1000L
        val updates = keys.map(k => (k, Seq("AUTOMOBILE", "BUILDING", "MACHINERY")(r.nextInt(3)),
          math.round(r.nextDouble() * 1000000) / 100.0, new java.sql.Timestamp(at)))
          .toDF("c_custkey", "c_mktsegment", "c_acctbal", "ts")
        val merged = Scd.scd2Merge(spark.read.parquet(scdPath(client, v)), updates, Seq("c_custkey"),
          Seq("c_mktsegment", "c_acctbal"), "ts")
        Sinks.parquet(merged, scdPath(client, v + 1), "replace")
        scdVersion.put(client, v + 1)
        Io.deleteTree(java.nio.file.Paths.get(scdPath(client, v)))
        rowsMerged.add(keys.size)
        Nil
      }
      case "ivf_append" => Trace.span(spark, "operators.index") {
        // appended vectors are orthogonal to every probe (which lies in
        // the pool's span), so they never enter a probe's top-k and
        // reads stay repeatable
        val rows = Seq.fill(20) {
          val v = Array.fill(vectors.head._2.length)(r.nextGaussian())
          poolBasis.foreach { q => val d = dot(v, q); v.indices.foreach(i => v(i) -= d * q(i)) }
          val n = math.sqrt(dot(v, v))
          (nextVec.getAndIncrement(), v.map(x => (x / n).toFloat))
        }
        locked(Ann.appendIvfIndex(rows.toDF("vec_id", "embedding"), "vec_id", "embedding", index))
        rows.foreach(x => appended.add(x._1))
        Nil
      }
      case "ivf_delete" => Trace.span(spark, "operators.index") {
        val doomed = Iterator.continually(appended.poll()).take(20).takeWhile(_ != null).map(_.longValue).toSeq
        if (doomed.nonEmpty) {
          try retryMissing(locked(Ann.deleteFromIvfIndex(spark, index, doomed.toDF("vec_id"), "vec_id")))
          catch { case e: Exception => doomed.foreach(appended.add(_)); throw e }
          doomed.foreach(deleted.add)
        }
        doomed
      }
    }
  }

  /** Execute one request; returns when its result was complete. A
    * read's result is then compared with the first result of the same
    * read, outside the caller's latency clock.
    */
  private def execute(spark: SparkSession, q: Req, client: Int): Long = q match {
    case w: WriteReq =>
      val doomed = write(spark, w, client)
      val done = System.nanoTime()
      confirmDeleted(spark, doomed)
      done
    case _ =>
      val (rows, schema) = read(spark, q)
      val done = System.nanoTime()
      val h = Io.rowsHash(rows)
      readCount.increment()
      val first = firstRows.putIfAbsent(q.key, (q, rows, schema, h))
      if (first != null && first._4 != h) { mismatched.increment(); mismatchedKeys.add(q.key) }
      done
  }

  /** Reads the index back after a delete, outside the latency clock.
    * A delete's scan for its doomed rows runs before it takes the
    * writer lock, so a concurrent delete's swap can hide a list from
    * it and the rows there are silently kept. Each delete that left
    * rows behind counts in `operators.index.lost_deletes` and is
    * repeated for them, so the index ends as the writes said.
    */
  private def confirmDeleted(spark: SparkSession, doomed: Seq[Long]): Unit = {
    import spark.implicits._
    var left = doomed
    while (left.nonEmpty) {
      left = retryMissing(wholeListing(spark.read.parquet(index)).filter(col("vec_id").isin(left: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSeq)
      if (left.nonEmpty) {
        lostDeletes.increment()
        retryMissing(locked(Ann.deleteFromIvfIndex(spark, index, left.toDF("vec_id"), "vec_id")))
      }
    }
  }

  def run(spark: SparkSession, deadlineNs: Long): Measured = {
    val readLat = new ConcurrentLinkedQueue[(String, Double)]()
    val writeLat = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    val attempted = new LongAdder
    val failed = new LongAdder
    // requests completed inside the window, a request still running at
    // the deadline counting for the share of its time inside it: the
    // clients' last requests end seconds past the deadline, at times
    // that vary from run to run
    val inWindow = new java.util.concurrent.atomic.DoubleAdder
    def fail(what: String, e: Exception): Unit = {
      failed.increment()
      if (failures.size < 20) failures.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val t0 = System.nanoTime()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        val it = ServeStream.stream(seed, c, roster)
        var n = 0L
        while (System.nanoTime() < deadlineNs) {
          val q = it.next()
          n += 1
          Trace.setRequest(c.toLong << 32 | n)
          attempted.increment()
          val s = System.nanoTime()
          try {
            val done = execute(spark, q, c)
            val secs = (done - s) / 1e9
            inWindow.add(if (done <= deadlineNs) 1.0 else (deadlineNs - s).max(0L).toDouble / (done - s))
            q match {
              case w: WriteReq => writeLat.computeIfAbsent(w.kind, _ => new ConcurrentLinkedQueue[Double]()).add(secs)
              case _ => readLat.add((q.key.takeWhile(_ != ':') match {
                case "query" => q.key; case k => k }, secs))
            }
          } catch { case e: Exception => fail(q.key, e) }
        }
      }, s"serve-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    failures.asScala.foreach(f => System.err.println(s"[serve] failed request $f"))
    val writes = writeLat.values.asScala.toSeq.map(_.asScala.toSeq)
    val reads = readLat.asScala.toSeq
    val readKinds = reads.groupBy { case (k, _) => if (k.startsWith("query:")) "query" else k }
      .values.map(_.map(_._2))
    // request kinds differ several-fold in cost and a window holds a
    // few of each, so an overall median jumps with which side of a gap
    // between kinds it lands on: the p50 figures weigh each kind (gate
    // query, ANN, BM25, hybrid; each write kind) the same
    Measured(inWindow.sum(), (deadlineNs - t0) / 1e9, reads.map(_._2), Stats.kindP50(readKinds), Stats.kindP50(writes),
      writes.map(_.size).sum, attempted.sum(), failed.sum(),
      1.0, "requests", readLat.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) } ++
        writeLat.asScala.map { case (k, v) => s"write:$k" -> v.asScala.toSeq })
  }

  /** Reads whose result differs from the first result of that read. */
  def mismatchedReads: Long = mismatched.sum()

  /** Writes the gate queries' first results out for the DuckDB oracle
    * check and drops every kept result, keeping its hash.
    */
  override def settle(spark: SparkSession): Unit = {
    val gate = firstRows.values.asScala.toSeq.collect { case (QueryReq(n), rows, schema, _) => (n, rows, schema) }
    gate.foreach { case (n, rows, schema) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.mode("overwrite").parquet(checkDir.resolve(n).toString)
    }
    Io.write(checkDir.resolve("oracle_sql.json"),
      Io.json(gate.map { case (n, _, _) => n -> SparkEntry.oracleSql(n) }.toMap))
    firstRows.replaceAll((_, v) => v.copy(_2 = null))
  }

  private def checkDir = root.resolve("oracle_check")

  def check(spark: SparkSession): Seq[Check] = {
    Io.write(checkDir.resolve("reads.json"),
      Io.json(queryCounts.asScala.map { case (k, v) => k -> v.sum() }.toMap))
    // the shared write targets end consistent
    val cdc = spark.read.parquet(cdcTable)
    val dupKeys = cdc.groupBy("c_custkey").count().filter(col("count") > 1).count()
    val indexIds = spark.read.parquet(index).select("vec_id").filter(col("vec_id") >= 1000000000L)
      .collect().map(_.getLong(0))
    val live = appended.asScala.map(_.longValue).toSet
    Seq(
      Check("serve.reads_repeat", mismatchedReads == 0,
        mismatchedKeys.asScala.take(3).mkString(",") + s" ($mismatchedReads of ${readCount.sum()})"),
      Check("serve.cdc_unique_keys", dupKeys == 0, s"$dupKeys duplicated keys"),
      Check("serve.ivf_membership", indexIds.toSet == live && indexIds.length == live.size &&
        deleted.asScala.forall(id => !live.contains(id)),
        s"index=${indexIds.length} live=${live.size}"))
  }

  override def counters: Map[String, Double] = Map(
    "operators.index.probes" -> probes.sum().toDouble,
    "operators.index.lock_retries" -> lockRetries.sum().toDouble,
    "operators.index.missing_file_retries" -> missingRetries.sum().toDouble,
    "operators.index.torn_listing_retries" -> tornListings.sum().toDouble,
    "operators.index.lost_deletes" -> lostDeletes.sum().toDouble,
    "operators.table.rows_merged" -> rowsMerged.sum().toDouble,
    "queries.plan_s" -> planNs.sum() / 1e9,
    "queries.requests" -> queryReads.sum().toDouble)
}
