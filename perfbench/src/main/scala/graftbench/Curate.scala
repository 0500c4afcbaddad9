package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{CleanOps, Dedup, LmScore, Packing, SemDedup, TextFilters}
import graft.sources.{Sinks, Sources}

/** The curation corpus generator. Everything is a pure function of
  * the seed: base documents over a Zipf vocabulary in four languages'
  * stopwords, then planted exact duplicates, near-duplicate pairs, a
  * few large clumps of near-copies, boilerplate sentences, documents
  * contaminated with spans of a held-out set, invalid rows, and
  * embeddings with planted semantic duplicates.
  */
final class CurateGen(seed: Long, val baseDocs: Int) {
  val Dim = 32
  private val rng = new Random(seed)
  private val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "to", "ri", "mo", "sen", "lu", "pa", "vek", "da", "ni", "os", "tre", "bal", "qui", "fe", "zo")
    val r = new Random(7)
    (0 until 6000).map(_ => (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString).distinct
  }
  private val stop = Seq("the", "and", "of", "a", "el", "la", "de", "y", "der", "und", "die", "das", "le", "et", "les")
  private val zipf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def word(r: Random): String =
    if (r.nextDouble() < 0.12) stop(r.nextInt(stop.length))
    else {
      val i = java.util.Arrays.binarySearch(zipf, r.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
    }
  private def words(r: Random, n: Int): Array[String] = Array.fill(n)(word(r))
  private val boilerplate: IndexedSeq[String] = {
    val r = new Random(11)
    (0 until 12).map(_ => words(r, 10).mkString(" ") + " subscribe now")
  }
  private def mutate(ws: Array[String], frac: Double, r: Random): Array[String] = {
    val out = ws.clone()
    (0 until math.max(1, (ws.length * frac).toInt)).foreach(_ => out(r.nextInt(out.length)) = word(r))
    out
  }

  val heldOut: IndexedSeq[(Long, String)] =
    (0 until 150).map(i => (i.toLong, words(rng, 80).mkString(" ")))
  val reference: IndexedSeq[String] = (0 until 400).map(_ => words(rng, 120).mkString(" "))

  val docs = mutable.ArrayBuffer.empty[(Long, String)]
  val nearPairs = mutable.ArrayBuffer.empty[(Long, Long)]
  val contaminated = mutable.Set.empty[Long]
  val invalid = mutable.Set.empty[Long]
  val embeddings = mutable.ArrayBuffer.empty[(Long, Array[Float])]

  // base documents; a doc is contaminated with a 16-word held-out span
  private val base: IndexedSeq[Array[String]] = (0 until baseDocs).map { i =>
    val ws = words(rng, 60 + rng.nextInt(140))
    val withBp =
      if (rng.nextDouble() < 0.25) boilerplate(rng.nextInt(boilerplate.length)).split(" ") ++ ws
      else ws
    if (rng.nextDouble() < 0.01) {
      val h = heldOut(rng.nextInt(heldOut.length))._2.split(" ")
      val at = rng.nextInt(h.length - 16)
      contaminated += i.toLong
      withBp.take(withBp.length / 2) ++ h.slice(at, at + 16) ++ withBp.drop(withBp.length / 2)
    } else withBp
  }
  base.zipWithIndex.foreach { case (ws, i) => docs += ((i.toLong, ws.mkString(" "))) }
  // sources of copies are never contaminated, so the decontaminated
  // set is exactly the planted one
  private val sources = base.indices.filterNot(i => contaminated.contains(i.toLong))
  private var nextId = baseDocs.toLong
  private def add(text: String): Long = { val id = nextId; nextId += 1; docs += ((id, text)); id }
  // exact duplicates: same normalized text, different case/spacing
  (0 until baseDocs * 3 / 100).foreach { _ =>
    val s = sources(rng.nextInt(sources.length))
    add("  " + base(s).map(w => if (rng.nextBoolean()) w.toUpperCase else w).mkString("  ") + " ")
  }
  // near-duplicate pairs, and a few large clumps of near-copies
  (0 until baseDocs * 4 / 100).foreach { _ =>
    val s = sources(rng.nextInt(sources.length))
    nearPairs += ((s.toLong, add(mutate(base(s), 0.04, rng).mkString(" "))))
  }
  (0 until 3).foreach { _ =>
    val s = sources(rng.nextInt(sources.length))
    (0 until 60).foreach(_ => nearPairs += ((s.toLong, add(mutate(base(s), 0.03, rng).mkString(" ")))))
  }
  // rows validateRows must drop: empty and oversize text
  (0 until 20).foreach { k => invalid += add(if (k % 2 == 0) "" else words(rng, 6000).mkString(" ")) }

  // embeddings: 64 clusters; 3% are near-copies of another doc's vector
  private val centers = Array.fill(64)(Array.fill(Dim)(rng.nextGaussian().toFloat))
  docs.foreach { case (id, _) =>
    val c = centers(rng.nextInt(centers.length))
    embeddings += ((id, Array.tabulate(Dim)(d => c(d) + 0.8f * rng.nextGaussian().toFloat)))
  }
  (0 until embeddings.length * 3 / 100).foreach { _ =>
    val a = rng.nextInt(embeddings.length); val b = rng.nextInt(embeddings.length)
    if (a != b) embeddings(b) = (embeddings(b)._1,
      embeddings(a)._2.map(x => x + 0.002f * rng.nextGaussian().toFloat))
  }

  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    Parts.write(dir.resolve("corpus"), docs.toSeq.toDF("doc_id", "text"), 8)
    Parts.write(dir.resolve("heldout"), heldOut.toDF("doc_id", "text"), 1)
    Parts.write(dir.resolve("reference"), reference.toDF("text"), 1)
    Parts.write(dir.resolve("embeddings"), embeddings.toSeq.toDF("doc_id", "emb"), 8)
  }
}

/** `curate`: the engine's batch cycle, repeated while the next cycle
  * fits before the deadline (at least once).
  * A cycle takes in the next drop-zone wave ([[Ingest]]), then runs
  * one training-data curation pass over the generated corpus: it reads
  * the corpus, runs every curation operator and writes the curated
  * shard.
  */
final class Curate(seed: Long, root: Path, baseDocs: Int) extends Workload {
  private val MaxChars = 20000L
  private val MinDf = 20L
  private val MinJaccard = 0.5
  private lazy val gen = new CurateGen(seed, baseDocs)
  private val in = root.resolve("inputs")
  private val ingest = new Ingest(seed, root.resolve("ingest"))
  private var model: LmScore.Model = _
  private val passHashes = mutable.ArrayBuffer.empty[(Long, Long)]
  private var lastOut: Path = _

  def generate(dir: Path, spark: => SparkSession): Unit = {
    ingest.generate(dir.resolve("waves"))
    gen.write(spark, dir)
  }

  /** The fixture the program builds: the LM table of the reference set. */
  def fixtures(spark: SparkSession): Unit =
    model = LmScore.train(Sources.parquet(spark, in.resolve("reference").toString), "text")

  def teardown(spark: SparkSession): Unit = { model = null; ingest.teardown(spark) }

  /** An ingest wave and one full curation pass. The pass's shard is
    * the reference every pass in the window must reproduce.
    */
  def warmup(spark: SparkSession): Unit = {
    ingest.warmup(spark)
    val out = root.resolve("warmup")
    pass(spark, Sources.parquet(spark, in.resolve("corpus").toString), out)
    spark.catalog.clearCache()
    passHashes += shardHash(spark, out)
    Io.deleteTree(out)
  }

  def run(spark: SparkSession, deadlineNs: Long): Measured = {
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val writeSecs = mutable.ArrayBuffer.empty[Double]
    var k = 0
    var lastNs = 0L
    // closed loop: a cycle starts only if one as long as the last would
    // end by the deadline, so at least one runs and none hangs past it
    while (k == 0 || System.nanoTime() + lastNs <= deadlineNs) {
      val c0 = System.nanoTime()
      val out = root.resolve(s"shard_$k")
      val (waveS, waveW, _) = ingest.step(spark)
      val t0 = System.nanoTime()
      val w = pass(spark, Sources.parquet(spark, in.resolve("corpus").toString), out)
      passSecs += waveS + (System.nanoTime() - t0) / 1e9
      writeSecs ++= waveW ++ w
      // the caller owns cached frames' lifetime between corpora (the
      // dedup operators persist and leave eviction to the caller)
      spark.catalog.clearCache()
      passHashes += shardHash(spark, out)
      if (lastOut != null) Io.deleteTree(lastOut.resolve("shard"))
      lastOut = out
      k += 1
      lastNs = System.nanoTime() - c0
    }
    Measured(gen.docs.length.toDouble * k, passSecs.sum, passSecs.toSeq, Stats.median(passSecs.toSeq),
      Stats.median(writeSecs.toSeq), writeSecs.size, k, 0,
      recall(spark), "docs")
  }

  /** One curation pass; returns the seconds of its two writes. */
  private def pass(spark: SparkSession, corpus: DataFrame, out: Path): Seq[Double] = {
    val embs = Sources.parquet(spark, in.resolve("embeddings").toString)
    val heldOut = Sources.parquet(spark, in.resolve("heldout").toString)
    val docs = Trace.frame(spark, "sources.read")(corpus)
    val valid = Trace.shared(spark, "operators.clean")(CleanOps.validateRows(docs, "text", MaxChars))
    val kept = Trace.shared(spark, "operators.dedup") {
      valid.join(Dedup.exact(valid, "doc_id", "text").select(col("doc_id_kept").as("doc_id")),
        Seq("doc_id"), "left_semi")
    }
    val feats = Trace.frame(spark, "functions") {
      kept.select(col("doc_id"), col("text"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }
    if (Trace.enabled) Trace.count("functions.rows", feats.count())
    val lm = Trace.frame(spark, "operators.text")(LmScore.score(feats, "text", model))
    val bp = Trace.frame(spark, "operators.text") {
      TextFilters.boilerplateFraction(kept, "doc_id", "text", 8, MinDf)
    }
    val spans = Trace.frame(spark, "operators.text") {
      TextFilters.removeRepeatedSpans(kept, "doc_id", "text", 8, MinDf)
    }
    val cand = Trace.frame(spark, "operators.dedup")(Dedup.minhashPairs(kept, "doc_id", "text"))
    val verified = Trace.frame(spark, "operators.dedup") {
      Dedup.jaccardVerify(kept, cand, "doc_id", "text").filter(col("jaccard") >= MinJaccard)
    }
    val groups = Trace.shared(spark, "operators.dedup") {
      Dedup.resolve(kept.select(col("doc_id")), verified.select(col("id_a"), col("id_b")), "doc_id")
    }
    if (Trace.enabled) {
      val nc = cand.count(); val nv = verified.count()
      Trace.count("operators.dedup.candidate_pairs", nc)
      Trace.count("operators.dedup.verified_pairs", nv)
      val maxBucket = Dedup.bandedSignatures(kept, "doc_id", "text")
        .groupBy(col("band"), col("bucket")).count().agg(max(col("count"))).head().getLong(0)
      Trace.count("operators.dedup.max_bucket", maxBucket)
    }
    val clean = Trace.frame(spark, "operators.text") {
      val survivors = kept.join(groups.filter(col("is_survivor")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      TextFilters.decontaminate(survivors, heldOut, "doc_id", "text", 13)
    }
    val sem = Trace.frame(spark, "operators.dedup") {
      SemDedup.semdedup(embs.join(clean.select(col("doc_id")), Seq("doc_id"), "left_semi"),
        "doc_id", "emb", nlist = 8, minCosine = 0.97, iters = 5)
    }
    val packed = Trace.frame(spark, "operators.text") {
      val curated = lm
        .join(sem.filter(col("is_survivor")).select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(bp.select(col("doc_id"), col("boilerplate_frac")), Seq("doc_id"), "left")
        .join(spans.select(col("doc_id"), col("text_clean")), Seq("doc_id"), "left")
      Packing.packWindows(curated, "n_tokens", "doc_id", 2048)
    }
    if (Trace.enabled) {
      Trace.count("operators.text.rows_in", kept.count())
      Trace.count("operators.text.rows_out", packed.count())
    }
    Seq(packed -> "shard", groups -> "groups").map { case (df, name) =>
      val t0 = System.nanoTime()
      Trace.span(spark, "sources.write")(Sinks.parquet(df, out.resolve(name).toString, "overwrite"))
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** (rows, order-insensitive content hash) of a written shard; rows
    * are unique by doc id, so xor over row hashes is order-free.
    */
  private def shardHash(spark: SparkSession, out: Path): (Long, Long) = {
    val df = spark.read.parquet(out.resolve("shard").toString)
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Planted near-duplicate pairs merged into one group ÷ planted. */
  private def recall(spark: SparkSession): Double = {
    val labels = spark.read.parquet(lastOut.resolve("groups").toString)
      .select("doc_id", "group_label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    gen.nearPairs.count { case (a, b) => labels.get(a).exists(la => labels.get(b).contains(la)) }
      .toDouble / gen.nearPairs.length
  }

  def check(spark: SparkSession): Seq[Check] = {
    val shard = spark.read.parquet(lastOut.resolve("shard").toString)
    val r = shard.agg(count(lit(1)),
      countDistinct(TextFunctions.fingerprint(col("text")))).head()
    val ids = shard.select("doc_id").collect().map(_.getLong(0)).toSet
    // the decontaminated set: what decontaminate drops from the
    // validated corpus
    val corpus = spark.read.parquet(in.resolve("corpus").toString)
    val valid = CleanOps.validateRows(corpus, "text", MaxChars)
    val dropped = valid.join(TextFilters.decontaminate(valid,
        spark.read.parquet(in.resolve("heldout").toString), "doc_id", "text", 13)
      .select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rc = recall(spark)
    ingest.check(spark) ++ Seq(
      Check("curate.no_exact_duplicates", r.getLong(0) == r.getLong(1),
        s"rows=${r.getLong(0)} distinct=${r.getLong(1)}"),
      Check("curate.decontaminated_ids", dropped == gen.contaminated.toSet,
        s"extra=${(dropped -- gen.contaminated).take(5)} missing=${(gen.contaminated.toSet -- dropped).take(5)}"),
      Check("curate.no_contaminated_output", (ids & gen.contaminated.toSet).isEmpty),
      Check("curate.no_invalid_output", (ids & gen.invalid.toSet).isEmpty),
      Check("curate.same_output_every_pass", passHashes.size >= 2 && passHashes.distinct.size == 1,
        s"${passHashes.size} passes (warm-up included): ${passHashes.distinct.mkString(",")}"),
      Check("curate.dup_recall_floor", rc >= 0.9, f"recall=$rc%.4f"))
  }

  override def counters: Map[String, Double] = ingest.counters
}
