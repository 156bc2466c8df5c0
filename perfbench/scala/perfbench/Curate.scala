package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{DedupIndex, DedupOps, DigestIndex, TextOps}

/** Seeded curation corpus. Clean documents draw from a word list plus
  * stopwords; the contamination benchmark draws from a disjoint word
  * list, so a clean document shares no 5-gram with it. Each batch plants
  * low-quality documents, exact copies and near copies (about 4% of words
  * replaced) of earlier documents, and contaminated documents (a
  * 12-word run of a benchmark document spliced in). */
final class Corpus(seed: Long) {
  private val rnd = new java.util.Random(seed)
  private def word(len: Int, alphabet: String): String =
    Iterator.fill(len)(alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
  private val stop = TextOps.stopwords.toArray
  val vocab: Array[String] =
    Iterator.continually(word(3 + rnd.nextInt(7), "abcdefghijklmnopqrstuvwxyz")).filterNot(stop.contains)
      .distinct.take(Corpus.vocabSize).toArray
  private val benchVocab: Array[String] = Array.tabulate(800)(i => word(4, "bcdfghjklmnpqrstvwxz") + i + "q")
  val benchmark: Seq[String] = Seq.fill(Corpus.benchmarkDocs)(Seq.fill(40)(benchVocab(rnd.nextInt(benchVocab.length))).mkString(" "))

  private def clean(): Array[String] =
    Array.fill(60 + rnd.nextInt(41))(if (rnd.nextInt(4) == 0) stop(rnd.nextInt(stop.length)) else vocab(rnd.nextInt(vocab.length)))

  /** Earlier clean texts that copies are drawn from. */
  private val pool = mutable.ArrayBuffer[String]()
  val contaminatedIds = mutable.Set[Long]()

  /** Batch `b` of `n` documents with ids b*1e6 + j (ids grow with batches). */
  def batch(b: Int, n: Int): Seq[(Long, String)] = (0 until n).map { j =>
    val id = b * 1000000L + j
    val k = rnd.nextInt(100)
    val text =
      if (k < 10) Seq.fill(8)(vocab(rnd.nextInt(vocab.length))).mkString(" ") // low quality
      else if (k < 18 && pool.nonEmpty) pool(rnd.nextInt(pool.size))
      else if (k < 25 && pool.nonEmpty) {
        val w = pool(rnd.nextInt(pool.size)).split(' ')
        for (_ <- 0 until math.max(1, w.length / 25)) w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length))
        w.mkString(" ")
      } else if (k < 30) {
        contaminatedIds += id
        val w = clean()
        val bw = benchmark(rnd.nextInt(benchmark.size)).split(' ')
        val at = rnd.nextInt(bw.length - 12)
        val pos = rnd.nextInt(w.length)
        (w.take(pos) ++ bw.slice(at, at + 12) ++ w.drop(pos)).mkString(" ")
      } else { val t = clean().mkString(" "); pool += t; t }
    (id, text)
  }
}

object Corpus {
  val vocabSize = 4000
  val benchmarkDocs = 200
}

/** The curation side of a deployment, driven one daily batch at a time
  * through quality filter -> exact dedup (DigestIndex) -> near dedup
  * (DedupIndex) -> contamination scan -> append of the kept documents,
  * all under `dir`. The indexes accumulate a batch's files per call, so
  * read amplification grows over the run. */
final class CurateFeed(ctx: Ctx, dir: String, historyDocs: Int, val batchDocs: Int) {
  import ctx._
  private val corpus = new Corpus(seed)
  private var batchNo = 0
  var docsDone = 0L
  val digestPath = s"$dir/index/digest"
  val dedupPath = s"$dir/index/dedup"
  private val keptPath = s"$dir/kept"
  private var bench: DataFrame = _


  private def landBatch(name: String, docs: Seq[(Long, String)]): String = {
    val p = Paths.get(dir, "landing", name)
    Files.createDirectories(p.getParent)
    Files.write(p, docs.map { case (id, t) => s"""{"id":$id,"text":${Json.str(t)}}""" }.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  private def curate(b: Int, file: String): Unit = {
    val docs = spark.read.schema("id LONG, text STRING").json(file)
    val good = tr.span("ops.quality")(
      TextOps.qualityScore(docs, "text").filter(col("quality") >= 0.5).select("id", "text"))
    val firsts = tr.span("ops.digest")(
      DigestIndex.appendAndDedup(spark, good, digestPath, "text", "id", Some(s"b$b")))
    val pairs = tr.span("ops.dedup")(
      DedupIndex.appendAndFindDups(spark, firsts, dedupPath, "text", "id", batchTag = Some(s"b$b")))
    val contaminated = tr.span("ops.contam")(
      DedupOps.contaminationScan(firsts, bench, "text", "id").select("id").collect().map(_.getLong(0)))
    val nearCopies = pairs.select("id_b").collect().map(_.getLong(0))
    val drop = (contaminated ++ nearCopies).distinct
    tr.span("io.write_kept")(
      firsts.filter(!col("id").isin(drop.toSeq: _*)).write.mode("append").parquet(keptPath))
  }

  /** Build the index history from the first batch. */
  def start(): Unit = {
    import spark.implicits._
    bench = corpus.benchmark.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text").cache()
    curate(0, landBatch("b00000.jsonl", corpus.batch(0, historyDocs)))
  }

  /** One daily batch. */
  def next(): Unit = {
    batchNo += 1
    curate(batchNo, landBatch(f"b$batchNo%05d.jsonl", corpus.batch(batchNo, batchDocs)))
    docsDone += batchDocs
  }

  /** No two kept documents share a text; no planted contaminated document is kept. */
  def check(): Seq[String] = {
    val kept = spark.read.parquet(keptPath)
    val n = kept.count()
    val texts = kept.select("text").distinct().count()
    val ids = kept.select("id").collect().map(_.getLong(0)).toSet
    val leaked = corpus.contaminatedIds.filter(i => i / 1000000L <= batchNo).intersect(ids)
    Seq(
      if (texts != n) Some(s"${n - texts} kept documents repeat another kept text") else None,
      if (leaked.nonEmpty) Some(s"${leaked.size} planted contaminated documents were kept") else None,
      if (n == 0) Some("no document was kept") else None).flatten
  }

  /** Index + kept bytes per document curated. */
  def storedBytesPerDoc: Double =
    Seq(digestPath, dedupPath, keptPath).map(DataFiles(spark, _)._2).sum.toDouble / (historyDocs + docsDone)

  def indexFiles: Double = (DataFiles(spark, digestPath)._1 + DataFiles(spark, dedupPath)._1).toDouble
}

object CurateFeed {
  def sizes(historyDocs: Int, batchDocs: Int): Seq[(String, String)] =
    Seq("history_docs" -> historyDocs.toString, "batch_docs" -> batchDocs.toString,
      "benchmark_docs" -> Corpus.benchmarkDocs.toString, "vocab" -> Corpus.vocabSize.toString,
      "planted" -> "10% low-quality, 8% exact copies, 7% near copies, 5% contaminated")
}

/** curate_incremental: closed loop, one daily batch after another through
  * [[CurateFeed]]. */
final class CurateIncremental(ctx: Ctx, historyDocs: Int, batchDocs: Int) extends Workload(ctx) {
  import ctx._
  private var feed: CurateFeed = _

  def sizes = CurateFeed.sizes(historyDocs, batchDocs)

  def setup(d: String): Unit = {
    feed = new CurateFeed(ctx, d, historyDocs, batchDocs)
    feed.start()
  }

  def run(deadlineNs: Long): Unit = {
    tr.writeLabel = p => if (p.contains("/index/")) "index" else if (p.contains("/kept")) "kept" else "other"
    closedLoop(deadlineNs, 0, 2)(_ => "batch")(_ => feed.next())
  }

  def check(): Seq[String] = feed.check()

  def endToEnd = {
    val s = all("batch")
    printTail("batch", "curate_batch_tail_s")
    Seq(("op_p50_s", s.p50, "s"), ("items_per_s", batchDocs * s.n / timedSecs.max(1e-9), "1/s"),
      ("stored_bytes_per_item", feed.storedBytesPerDoc, "B"))
  }

  def perLayer = Map(
    "index.files" -> feed.indexFiles,
    "index.files_read_per_batch" -> tr.opTotal("scan.files_read") / tr.tracedOps.size.max(1))
}
