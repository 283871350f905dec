package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The store writers' bucket census ([[Dedup.writeMinhashStore]] and its
  * siblings): the written band rows are exactly those the inner-join cap
  * rule keeps, the census caches nothing, and a small append runs no stage
  * at `spark.sql.shuffle.partitions` tasks (the census is an un-cached
  * aggregate, so AQE coalesces its reduce stage). */
class StoreCensusSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val NumHashes = 64
  private val Bands = 8
  private val ShingleK = 5

  private def docText(i: Int): String =
    s"census document $i covers subject ${i % 5} with a shared opening " +
      s"clause and then a tail of its own numbered ${i * 37} and ${i * 11}"

  private val boiler = "identical boilerplate footer copied verbatim into " +
    "every planted document of this census fixture"

  private def docs(ids: Range, boilerIds: Range): DataFrame =
    (ids.map(i => (i.toLong, docText(i))) ++
      boilerIds.map(i => (i.toLong, boiler))).toDF("doc_id", "text")

  /** The rows the inner-join cap rule keeps, computed here from the banded
    * rows: a row survives when its non-null (band, bucket) group holds at
    * most `cap` rows. */
  private def capReference(df: DataFrame, cap: Int): Seq[(Long, Int, Int)] = {
    val banded = Dedup.minhashBanded(df, "doc_id", "text", NumHashes, Bands,
      ShingleK).select($"id", $"band", $"bucket").as[(Long, Int, Int)]
      .collect().toSeq
    val sizes = banded.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.size }
    banded.filter(r => sizes((r._2, r._3)) <= cap).sorted
  }

  private def storeRows(table: String): Seq[(Long, Int, Int)] =
    spark.table(table).select($"id", $"band", $"bucket")
      .as[(Long, Int, Int)].collect().toSeq.sorted

  test("capped write keeps exactly the inner-join rule's rows; uncapped keeps all") {
    val cap = 4
    val corpus = docs(0 until 12, 100 until 106) // 6 boiler copies > cap
    val batch = docs(200 until 210, 300 until 305) // 5 boiler copies > cap
    val table = "graft_census_capped"
    Dedup.dropMinhashStore(spark, table)
    try {
      // (a) a planted over-cap bucket: only the boilerplate's groups go
      Dedup.writeMinhashStore(corpus, table, buckets = 4, maxBucketSize = cap)
      val refCorpus = capReference(corpus, cap)
      assert(storeRows(table) === refCorpus)
      assert(!refCorpus.exists(r => r._1 >= 100L && r._1 < 106L),
        "fixture sanity: the boilerplate copies must exceed the cap")
      // the append caps its own batch by the same rule
      Dedup.writeMinhashStore(batch, table, buckets = 4, mode = "append",
        maxBucketSize = cap)
      assert(storeRows(table) === (refCorpus ++ capReference(batch, cap)).sorted)

      // (b) no group over the cap: every banded row is written
      Dedup.writeMinhashStore(corpus, table, buckets = 4)
      val all = Dedup.minhashBanded(corpus, "doc_id", "text", NumHashes,
        Bands, ShingleK).select($"id", $"band", $"bucket")
        .as[(Long, Int, Int)].collect().toSeq.sorted
      assert(all.size === 18 * Bands)
      assert(storeRows(table) === all)
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("store writes leave the persistent-RDD set as they found it") {
    val table = "graft_census_persist"
    Dedup.dropMinhashStore(spark, table)
    def count() = spark.sparkContext.getPersistentRDDs.size
    // the append's signature snapshot is a GC-released localCheckpoint, so
    // wait (bounded) for the cleaner; a census persist() would never go
    def settle(before: Int): Int = {
      var n = count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (n > before && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(200); n = count()
      }
      n
    }
    try {
      // let earlier suites' collectable snapshots go first, so only this
      // test's writes can move the count
      System.gc(); Thread.sleep(200)
      val before = count()
      Dedup.writeMinhashStore(docs(0 until 10, 100 until 106), table,
        buckets = 4, maxBucketSize = 4)
      assert(count() <= before, "an overwrite must cache nothing")
      Dedup.writeMinhashStore(docs(200 until 210, 300 until 306), table,
        buckets = 4, mode = "append", maxBucketSize = 4)
      assert(settle(before) <= before, "an append must leave nothing cached")
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("a small append runs no stage at spark.sql.shuffle.partitions tasks") {
    // an odd partition count no input, bucket or coalesced stage has
    val shufflePartitions = 97
    val session: SparkSession = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    val table = "graft_census_tasks"
    val marker = "graft-census-spec-marker"
    @volatile var stageTasks = List.empty[Int]
    @volatile var markerJob = -1
    @volatile var markerDone = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageTasks ::= e.stageInfo.numTasks
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            marker == p.getProperty("spark.jobGroup.id"))) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone = true
    }
    import session.implicits._
    def small(ids: Range): DataFrame =
      ids.map(i => (i.toLong, docText(i))).toDF("doc_id", "text").repartition(2)
    Dedup.dropMinhashStore(session, table)
    try {
      Dedup.writeMinhashStore(small(0 until 40), table, buckets = 4,
        maxBucketSize = 100)
      spark.sparkContext.addSparkListener(listener)
      Dedup.writeMinhashStore(small(1000 until 1030), table, buckets = 4,
        mode = "append", maxBucketSize = 100)
      // the listener bus delivers in order: once a job started after the
      // append has ended, every stage of the append has been seen
      val sc = spark.sparkContext
      sc.setJobGroup(marker, "census spec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(50)
      assert(markerDone, "listener never saw the marker job end")
      val seen = stageTasks
      assert(seen.size > 1, "fixture sanity: the append must run stages")
      assert(!seen.contains(shufflePartitions),
        s"a stage ran at spark.sql.shuffle.partitions tasks: ${seen.reverse}")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Dedup.dropMinhashStore(session, table)
    }
  }
}
