package perfbench

import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Incremental ingest into a MinHash store.
  *
  * Documents are space-separated lowercase words from a seeded vocabulary.
  * Each batch has stated shares: exact copies of corpus documents,
  * planted near-duplicates of corpus documents (character-5-shingle
  * Jaccard between 0.88 and 0.93, measured here in plain Scala), copies of
  * other documents of the same batch (with higher ids, so the original
  * survives), and novel documents. The novel rows of a batch are appended
  * to the store, so the store grows the way an ingest loop grows it. */
final class CorpusIngest(corpusDocs: Int, batchDocs: Int, batchesPerPass: Int,
    files: Int) extends Workload {
  val name = "corpus_ingest"

  private val Store = "pb_corpus_mh"
  /** Store buckets, sized to the session like the spatial stores. */
  private val Buckets = 8
  private val Vocab = 4000

  private var spark: SparkSession = _
  private var seed = 0L
  private var vocab: Array[String] = Array.empty
  private var corpus: Array[String] = Array.empty
  private var storeDocs = 0L

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def doc(r: scala.util.Random): String = {
    val len = 60 + r.nextInt(60)
    // skewed word choice: low ranks recur, as in natural text
    Seq.fill(len)(vocab(math.min(Vocab - 1, (math.pow(r.nextDouble(), 2.0) * Vocab).toInt)))
      .mkString(" ")
  }

  private def shingles(s: String): Set[String] =
    (0 to s.length - 5).map(i => s.substring(i, i + 5)).toSet

  private def jaccard(sa: Set[String], b: String): Double = {
    val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** A near-duplicate of `src`: words replaced one at a time (seeded) until
    * the shingle Jaccard falls to 0.93 or below, never below 0.88. */
  private def nearDup(src: String, r: scala.util.Random): String = {
    val words = src.split(' ')
    val srcShingles = shingles(src)
    var out = src
    var j = 1.0
    var tries = 0
    while (j > 0.93 && tries < 1000) {
      tries += 1
      val i = r.nextInt(words.length)
      val before = words(i)
      words(i) = vocab(r.nextInt(Vocab))
      val cand = words.mkString(" ")
      val cj = jaccard(srcShingles, cand)
      if (cj >= 0.88) { out = cand; j = cj } else words(i) = before
    }
    out
  }

  def setup(spark: SparkSession, dir: java.io.File, seed: Long): Unit = {
    this.spark = spark
    this.seed = seed
    val r = new scala.util.Random(seed)
    // the "zx" prefix keeps every word out of the stopword lists, so the
    // language id of every document is the default, "en"
    vocab = Array.fill(Vocab)("zx" + Seq.fill(2 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
    corpus = Array.fill(corpusDocs)(doc(r))
    val corpusDf = spark.createDataFrame(spark.sparkContext.parallelize(
      corpus.indices.map(i => Row(i.toLong, corpus(i))), files), docSchema)
    Dedup.dropMinhashStore(spark, Store)
    Dedup.writeMinhashStore(corpusDf, Store, buckets = Buckets)
    storeDocs = corpusDocs
  }

  /** One seeded batch and its planted structure. */
  private case class Batch(df: DataFrame, rows: Seq[(Long, String)], novel: Set[Long])

  private def batch(pass: Int, b: Int): Batch = {
    val r = new scala.util.Random(seed * 7919L + pass * 131L + b)
    val id0 = 1000000000L + (pass.toLong * batchesPerPass + b) * batchDocs
    val nExact = batchDocs / 10
    val nNear = batchDocs / 5
    val nIn = batchDocs / 20
    val nNovel = batchDocs - nExact - nNear - nIn
    val sources = r.shuffle(corpus.indices.toList).take(nExact + nNear)
    val novelDocs = Seq.fill(nNovel)(doc(r))
    val rows = mutable.ArrayBuffer.empty[(Long, String)]
    novelDocs.foreach(t => rows += ((id0 + rows.length, t)))
    (0 until nIn).foreach(_ => rows += ((id0 + rows.length, novelDocs(r.nextInt(nNovel)))))
    sources.take(nExact).foreach(s => rows += ((id0 + rows.length, corpus(s))))
    sources.drop(nExact).foreach(s => rows += ((id0 + rows.length, nearDup(corpus(s), r))))
    val ids = rows.map(_._1)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }.toSeq, files), docSchema)
    Batch(df, rows.toSeq, ids.take(nNovel).toSet)
  }

  private val md5 = java.security.MessageDigest.getInstance("MD5")
  private def fingerprint(t: String): String =
    md5.digest(t.toLowerCase.replaceAll("\\s+", " ").trim.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def ops(pass: Int): Seq[Op] =
    (0 until batchesPerPass).flatMap { b =>
      val bt = batch(pass, b)
      Seq(
        Op.read("text_stats", "pipeline") {
          val t = col("text")
          bt.df.select(col("doc_id"), TextAnalysis.tokenCount(t), TextAnalysis.alphaRatio(t),
            TextAnalysis.langId(t), TextAnalysis.qualityScore(t), TextAnalysis.fingerprint(t),
            TextAnalysis.meanWordLength(t), TextAnalysis.whitespaceRatio(t),
            TextAnalysis.digitRatio(t), TextAnalysis.stopwordRatio(t))
        } { out =>
          val byId = bt.rows.toMap
          val wrong = out.find { row =>
            val text = byId(row.getLong(0))
            val words = text.split(' ').length
            val letters = text.length - (words - 1)
            row.getInt(1) != words ||
              !Check.near(row.getDouble(2), letters.toDouble / text.length, 1e-12) ||
              row.getString(3) != "en" ||
              !(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0) ||
              row.getString(5) != fingerprint(text) ||
              !Check.near(row.getDouble(6), letters.toDouble / words, 1e-12) ||
              !Check.near(row.getDouble(7), (words - 1).toDouble / text.length, 1e-12) ||
              row.getDouble(8) != 0.0 || row.getDouble(9) != 0.0
          }
          Check.all(Check.expectEq("rows", out.length, bt.rows.length),
            wrong.map(w => s"text stats of doc ${w.getLong(0)}: $w"))
        },

        Op.write("store_append", "pipeline") {
          bt.df.filter(col("doc_id").isin(bt.novel.toSeq: _*))
        }(df => Dedup.writeMinhashStore(df, Store, buckets = Buckets, mode = "append")) {
          storeDocs += bt.novel.size
          Check.expectEq("store docs", spark.table(Store + "__sigs").count().toDouble, storeDocs.toDouble)
        }
      )
    }
}
