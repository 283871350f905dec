package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis, Multimodal}

class PipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bank yesterday"), // near-dup of 1
    (3L, "Der schnelle braune Fuchs springt und die Katze ist nicht mit dem Hund"),
    (4L, "Completely different content about database engines and query optimizers"),
    (5L, "The quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps first by order") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.count() === 4)
    assert(out.filter($"doc_id" === 5).count() === 0)
    val groups = Dedup.exactGroups(docs, TextAnalysis.normalized($"text"), $"doc_id")
    assert(groups.filter($"copies" === 2).select("kept_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("jaccard on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("a", "b")
    assert(df.select(Dedup.jaccard($"a", $"b")).as[Double].collect()(0) === 0.5)
  }

  test("minhash near-dup finds the near pair, not the distinct pair") {
    val out = Dedup.nearDupMinhash(docs, "doc_id", "text", threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L)), s"expected (1,2) in $out")
    assert(out.contains((1L, 5L))) // exact dup always caught
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L), s"distinct doc matched: $out")
  }

  test("simhash near-dup") {
    val out = Dedup.nearDupSimhash(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 5L)), s"exact dup must have hamming 0: $out")
    assert(!out.exists(p => Set(p._1, p._2) == Set(3L, 4L)))
  }

  test("embedding near-dup and similarity top-k") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)), // near 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")

    val nd = Dedup.nearDupEmbedding(vecs, "vec_id", "embedding", threshold = 0.98, bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nd === Set((1L, 2L)), s"got $nd")

    val queries = vecs.filter($"vec_id" === 1).toDF("query_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 2)
      .select("rank", "corpus_id").as[(Int, Long)].collect().toMap
    assert(topk(1) === 1L) // itself
    assert(topk(2) === 2L) // nearest neighbor

    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 2, bits = 2)
    assert(lsh.filter($"rank" === 1).select("corpus_id").as[Long].collect()(0) === 1L)
  }

  test("all-zero embeddings never rank (no NaN cosine)") {
    // A zero vector has no direction; before the guard, its NaN cosine
    // sorted above every real match (Spark orders NaN greatest).
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 0.0f)) // zero-norm corpus row
    ).toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("query_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3)
      .select("rank", "corpus_id", "cosine").as[(Int, Long, Double)].collect()
    assert(topk.forall(t => !t._3.isNaN))
    assert(topk.map(_._2).toSet === Set(1L, 2L)) // zero row absent
    assert(topk.find(_._1 == 1).get._2 === 1L)
    // near-dup tier: zero vector must not pair with everything in its bucket
    val nd = Dedup.nearDupEmbedding(vecs, "vec_id", "embedding",
      threshold = 0.9, bits = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!nd.exists(p => p._1 == 3L || p._2 == 3L), s"zero vec paired: $nd")
  }

  test("IVF index: train once, save, reload, identical top-k") {
    // VERDICT r4 #5: centroid persistence (plain parquet) + unbiased
    // training sample — repeated query batches against a fixed corpus must
    // not pay k-means again, and a reloaded index must answer identically.
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 300L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 25 === 0)
      .toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 5L)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.saveIvf(spark, index, dir + "/idx")
    val reloaded = Similarity.loadIvf(spark, dir + "/idx")
    assert(reloaded.nlist === index.nlist)
    reloaded.centroids.zip(index.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    def run(ix: Similarity.IvfIndex) =
      Similarity.ivfTopKIndexed(ix, corpus, "vec_id", "embedding",
        queries, "query_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "rank", "corpus_id").as[(Long, Int, Long)]
        .collect().toSet
    val a = run(index)
    assert(a === run(reloaded))
    // self-retrieval is exact by construction
    assert(corpus.filter($"vec_id" % 25 === 0).count() ===
      a.count { case (q, r, c) => r == 1 && q == c })
  }

  test("IVF store: partition-pruned probe, identical top-k, append + retrain stats") {
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 300L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 50 === 0).toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 5L)
    val dir = java.nio.file.Files.createTempDirectory("ivfstore").toString
    Similarity.buildIvfStore(index, corpus, "vec_id", "embedding", dir + "/store")

    val stored = Similarity.ivfTopKStored(spark, index, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 2)
    val indexed = Similarity.ivfTopKIndexed(index, corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet
    assert(rows(stored) === rows(indexed))

    // the scan must touch ONLY probed cell directories: execution-level
    // proof via input_file_name() on a scan filtered the way
    // ivfTopKStored filters (partition pruning, not a post-scan filter)
    val pruned = spark.read.parquet(dir + "/store").filter($"cell".isin(0, 1))
    val touched = pruned.select(input_file_name()).distinct().as[String].collect().toSeq
    assert(touched.nonEmpty)
    assert(touched.forall(f => f.contains("cell=0") || f.contains("cell=1")),
      s"non-probed cell files read: $touched")
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"),
      s"partition filter missing from scan:\n$planStr")

    // append-only refresh: new rows land in cell directories, stats see them
    val extra = (301L to 360L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.appendToIvfStore(index, extra, "vec_id", "embedding", dir + "/store")
    val stats = Similarity.ivfStoreStats(spark, dir + "/store")
    assert(stats.agg(sum($"n")).as[Long].collect()(0) === 360L)
    assert(!Similarity.ivfNeedsRetrain(stats, imbalance = 1000.0))
    // a degenerate pile-up (everything in one cell) must trip the heuristic
    val skewed = Seq((0, 1000L), (1, 1L), (2, 1L)).toDF("cell", "n")
    assert(Similarity.ivfNeedsRetrain(skewed, imbalance = 2.0))
  }

  test("IVF store: adaptive nprobe widens with occupancy, exact at full cover") {
    val rnd = new scala.util.Random(17)
    val corpus = (1L to 300L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 50 === 0).toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 5L)
    val dir = java.nio.file.Files.createTempDirectory("ivfadapt").toString
    Similarity.buildIvfStore(index, corpus, "vec_id", "embedding", dir + "/store")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet

    // minCandidates >= corpus size forces every cell to be probed →
    // result must EQUAL brute force (and each query returns all k ranks)
    val full = Similarity.ivfTopKStoredAdaptive(spark, index, dir + "/store",
      queries, "query_id", "embedding", k = 3, minCandidates = 1000)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3)
    assert(rows(full) === rows(brute))

    // tiny candidate target probes few cells but self-retrieval stays
    // exact (own cell is always first), and every query still gets rows
    val narrow = Similarity.ivfTopKStoredAdaptive(spark, index, dir + "/store",
      queries, "query_id", "embedding", k = 3, minCandidates = 1)
    val nr = rows(narrow)
    val qids = queries.select($"query_id").as[Long].collect().toSet
    assert(qids.forall(q => nr.contains((q, 1, q))), s"self-retrieval lost: $nr")

    // maxProbe caps the expansion even when the target is unreachable
    val capped = Similarity.ivfTopKStoredAdaptive(spark, index, dir + "/store",
      queries, "query_id", "embedding", k = 3, minCandidates = 1000000,
      maxProbe = 2)
    assert(rows(capped).nonEmpty)
    // with only 2 of 8 cells probed the result may differ from brute
    // force; it must still agree with the fixed-nprobe tier at nprobe=2
    val fixed2 = Similarity.ivfTopKStored(spark, index, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 2)
    assert(rows(capped) === rows(fixed2))
  }

  test("PQ: byte codes, deterministic training, exact at full re-rank") {
    val rnd = new scala.util.Random(23)
    val corpus = (1L to 300L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 50 === 0).toDF("query_id", "embedding")
    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 4, ksub = 16)
    assert(book.m === 4 && book.ksub === 16 && book.dsub === 4)
    // deterministic: same seed → identical codebooks
    val book2 = Similarity.trainPq(corpus, "vec_id", "embedding", m = 4, ksub = 16)
    book.codebooks.zip(book2.codebooks).foreach { case (a, b) =>
      a.zip(b).foreach { case (ca, cb) => assert(ca.toSeq === cb.toSeq) }
    }
    // codes: one byte per subspace — 16 doubles become 4 bytes
    val codes = Similarity.encodePq(book, corpus, "vec_id", "embedding")
    assert(codes.select(length($"code")).distinct().as[Int].collect().toSeq === Seq(4))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet
    // candidates >= corpus size → exact re-rank over everything == brute
    // force, bit for bit (cosine comes from the same unitized dot)
    val full = Similarity.pqTopKReranked(book, codes, corpus, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 3, candidates = 300)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3)
    assert(rows(full) === rows(brute))
    // narrow candidate budget: every query still returns k exact-scored
    // rows and self-retrieval survives the ADC cut (a vector's own code
    // is its quantization — top of the ADC ranking by construction)
    val narrow = Similarity.pqTopKReranked(book, codes, corpus, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 3, candidates = 8)
    val nr = rows(narrow)
    val qids = queries.select($"query_id").as[Long].collect().toSet
    assert(qids.forall(q => nr.contains((q, 1, q))), s"self-retrieval lost: $nr")
    assert(nr.size === qids.size * 3)

    // 4-bit packed nibble codes (ksub=16): HALF the bytes, and because
    // the packed decode recovers the identical center indices, the
    // result set is identical to the byte-code path
    val packedCodes = Similarity.encodePq(book, corpus, "vec_id", "embedding",
      packed = true)
    assert(packedCodes.select(length($"code")).distinct().as[Int]
      .collect().toSeq === Seq(2)) // m=4 → 2 bytes
    val packedRes = Similarity.pqTopKReranked(book, packedCodes, corpus,
      "vec_id", "embedding", queries, "query_id", "embedding", k = 3,
      candidates = 8, packed = true)
    assert(rows(packedRes) === nr)
  }

  test("IVF-PQ store: composed pruning, exact at full probe + full re-rank") {
    val rnd = new scala.util.Random(29)
    val corpus = (1L to 300L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 50 === 0).toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 5L)
    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.buildIvfPqStore(index, book, corpus, "vec_id", "embedding",
      dir + "/store")
    // the store carries cell partitions + code + full vector
    val store = spark.read.parquet(dir + "/store")
    assert(store.columns.toSet === Set("corpus_id", "cvec", "code", "cell"))
    assert(store.count() === 300)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet
    // full probe + full re-rank == brute force, bit for bit
    val full = Similarity.ivfPqTopKStored(spark, index, book, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 8, candidates = 300)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3)
    assert(rows(full) === rows(brute))
    // narrow probe/candidates: self-retrieval survives (own cell probed
    // first, own code tops its ADC ranking)
    val narrow = Similarity.ivfPqTopKStored(spark, index, book, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 2, candidates = 8)
    val nr = rows(narrow)
    val qids = queries.select($"query_id").as[Long].collect().toSet
    assert(qids.forall(q => nr.contains((q, 1, q))), s"self-retrieval lost: $nr")
    // the ADC pass must not read the vector column: column pruning drops
    // cvec from the scan schema
    val adcScan = spark.read.parquet(dir + "/store")
      .filter($"cell".cast("int").isin(0, 1))
      .select($"corpus_id", $"code")
    val schemaStr = adcScan.queryExecution.executedPlan.toString
    assert(schemaStr.contains("ReadSchema") && !schemaStr.contains("cvec"),
      s"vector column not pruned from ADC scan:\n$schemaStr")

    // residual encoding: codebooks trained on x − centroid(cell), ADC
    // scores dot(q,c_cell) + table sum. Same exactness at full cover;
    // codes genuinely differ from the raw-vector encoding.
    val rBook = Similarity.trainPqResidual(index, corpus, "vec_id",
      "embedding", m = 4, ksub = 16)
    Similarity.buildIvfPqStore(index, rBook, corpus, "vec_id", "embedding",
      dir + "/rstore", residual = true)
    val rFull = Similarity.ivfPqTopKStored(spark, index, rBook, dir + "/rstore",
      queries, "query_id", "embedding", k = 3, nprobe = 8, candidates = 300,
      residual = true)
    assert(rows(rFull) === rows(brute))
    val rNarrow = Similarity.ivfPqTopKStored(spark, index, rBook, dir + "/rstore",
      queries, "query_id", "embedding", k = 3, nprobe = 2, candidates = 8,
      residual = true)
    assert(qids.forall(q => rows(rNarrow).contains((q, 1, q))))
    val rawCodes = spark.read.parquet(dir + "/store")
      .select($"corpus_id", $"code".as("raw")).join(
        spark.read.parquet(dir + "/rstore")
          .select($"corpus_id", $"code".as("res")), "corpus_id")
    assert(rawCodes.filter(not($"raw" === $"res")).count() > 0,
      "residual codes identical to raw codes — residual path inert")
  }

  test("re-rank pushdown guard: past the id ceiling the hint is skipped, same answer") {
    // r15 (VERDICT r14 #4): the candidate-id row-group hint is a driver
    // collect bounded by candidates × |queries| — past maxPushdownIds it
    // must be SKIPPED (a 1M-query batch at candidates=64 is a 64M-id
    // driver collect for an IO optimization), and the answer must not
    // move: the join on the candidate frame alone carries correctness.
    val rnd = new scala.util.Random(31)
    val corpus = (1L to 240L).map { i =>
      (i, Seq.fill(12)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 40 === 0).toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 6, seed = 7L)
    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_guard").toString
    Similarity.buildIvfPqStore(index, book, corpus, "vec_id", "embedding",
      dir + "/store")
    def run(ceiling: Long) = Similarity.ivfPqTopKStored(spark, index, book,
      dir + "/store", queries, "query_id", "embedding", k = 3, nprobe = 2,
      candidates = 16, maxPushdownIds = ceiling)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet
    val pushed = run(Similarity.MaxRerankPushdownIds)
    val guarded = run(0L)
    assert(rows(pushed) === rows(guarded), "guard changed the answer")
    assert(rows(pushed).nonEmpty)
    // the hint itself: ≥16 distinct candidate ids print as an INSET
    // filter (the ≤8-cell partition filter stays a small IN — INSET is
    // unambiguously the id hint)
    assert(pushed.queryExecution.executedPlan.toString.contains("INSET"),
      "candidate-id pushdown missing under the ceiling")
    assert(!guarded.queryExecution.executedPlan.toString.contains("INSET"),
      "candidate-id pushdown survived past the ceiling")
  }

  test("IVF-PQ store: id-clustered layout row-group-prunes the re-rank read") {
    // the store build sorts by corpus_id inside each cell, so every
    // parquet row group covers a tight disjoint id range and the exact
    // re-rank's `corpus_id isin (candidates)` pushdown skips whole row
    // groups on footer stats (the unsorted layout left every group
    // spanning the full id space → zero skips)
    val rnd = new scala.util.Random(37)
    val corpus = (1L to 4000L).map { i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 4, seed = 7L)
    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 4, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rg").toString
    Similarity.buildIvfPqStore(index, book, corpus, "vec_id", "embedding",
      dir + "/store",
      // tiny row groups so a 4000-row fixture has many per file
      writeOptions = Map("parquet.block.size" -> "16384",
        "parquet.page.size" -> "4096"))
    // structural: per-file row-group id ranges are sorted and disjoint
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = new java.io.File(dir + "/store").listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles.filter(_.getName.endsWith(".parquet")))
    assert(parts.nonEmpty)
    var multiGroup = 0
    parts.foreach { f =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        val ranges = rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "corpus_id").get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[Long], st.genericGetMax.asInstanceOf[Long])
        }
        if (ranges.length > 1) multiGroup += 1
        ranges.sliding(2).foreach {
          case Seq((_, hi), (lo2, _)) =>
            assert(hi < lo2, s"row-group id ranges overlap in ${f.getName}: $ranges")
          case _ => ()
        }
      } finally rd.close()
    }
    assert(multiGroup > 0,
      "fixture produced only single-row-group files — shrink block size")
    // behavioral: the isin read's scan emits only surviving row groups'
    // rows (record-level parquet filtering is off by default, so the
    // scan's numOutputRows IS the post-group-skip count)
    val cand = Seq(5L, 777L, 1234L, 2345L, 3456L)
    val read = spark.read.parquet(dir + "/store")
      .select($"corpus_id", $"cvec")
      .filter($"corpus_id".isInCollection(cand))
    assert(read.collect().map(_.getLong(0)).toSet === cand.toSet)
    val scans = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the re-rank read plan")
    val emitted = scans.map(_.metrics("numOutputRows").value).sum
    assert(emitted < 2000,
      s"scan emitted $emitted of 4000 rows — row groups not pruned")
  }

  test("ANN recall: planted near-neighbors recovered by every tier") {
    // planted-neighbor fixture: queries are small perturbations of
    // corpus vectors, so each query's TRUE nearest neighbor is known.
    // Everything is seeded → recall numbers are deterministic; the
    // thresholds are pinned just below the measured values so a tier
    // regression (bad probe order, broken table, wrong code decode)
    // fails loudly while seed-stable noise does not.
    val rnd = new scala.util.Random(31)
    val base = (1L to 400L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = base.filter(_._1 % 20 == 0).map { case (i, v) =>
      (i, v.map(x => x + rnd.nextGaussian() * 0.02).toSeq) // ~2% noise
    }.toDF("query_id", "embedding")
    val nQ = queries.count().toDouble

    def recall1(df: org.apache.spark.sql.DataFrame): Double =
      df.filter($"rank" === 1 && $"query_id" === $"corpus_id").count() / nQ

    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 1)
    assert(recall1(brute) === 1.0, "planted neighbor not the true NN — fixture broken")

    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 16, seed = 7L)
    val ivf = Similarity.ivfTopKIndexed(index, corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 1, nprobe = 4)
    assert(recall1(ivf) >= 0.9, s"ivf recall@1 = ${recall1(ivf)}")

    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 8, ksub = 32)
    val codes = Similarity.encodePq(book, corpus, "vec_id", "embedding")
    val pq = Similarity.pqTopKReranked(book, codes, corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 1, candidates = 16)
    assert(recall1(pq) >= 0.9, s"pq recall@1 = ${recall1(pq)}")

    val rBook = Similarity.trainPqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 32)
    val dir = java.nio.file.Files.createTempDirectory("annrecall").toString
    Similarity.buildIvfPqStore(index, rBook, corpus, "vec_id", "embedding",
      dir + "/rstore", residual = true)
    val ivfpq = Similarity.ivfPqTopKStored(spark, index, rBook, dir + "/rstore",
      queries, "query_id", "embedding", k = 1, nprobe = 4, candidates = 16,
      residual = true)
    assert(recall1(ivfpq) >= 0.9, s"ivf-pq recall@1 = ${recall1(ivfpq)}")
  }

  test("ANN recall@10 sweep: nprobe × candidates grid on the planted fixture") {
    // tuning-regression canary: recall@10 across the (nprobe, candidates)
    // grid, printed as the PERF.md table. Deterministic (seeded fixture,
    // seeded kmeans) → pinned bounds; the corner nprobe=nlist &
    // candidates=corpus is brute force exactly, so recall@10 == 1.0 is
    // an equality there, not a bound.
    val rnd = new scala.util.Random(41)
    val base = (1L to 600L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
    val corpus = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = base.filter(_._1 % 20 == 0).map { case (i, v) =>
      (i, v.map(x => x + rnd.nextGaussian() * 0.02).toSeq)
    }.toDF("query_id", "embedding")
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 10).cache()
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 16, seed = 7L)
    val rBook = Similarity.trainPqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 32)
    val dir = java.nio.file.Files.createTempDirectory("annsweep").toString
    Similarity.buildIvfPqStore(index, rBook, corpus, "vec_id", "embedding",
      dir + "/store", residual = true)

    // OPQ-composed store on the same fixture: rotation learned on the
    // residuals, same (m, ksub) budget
    val oModel = Similarity.trainOpqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 32, opqIters = 4)
    Similarity.buildIvfPqStore(index, oModel.book, corpus, "vec_id", "embedding",
      dir + "/ostore", residual = true, rotation = Some(oModel.rotation))

    val nprobes = Seq(1, 2, 4, 8, 16)
    val cands = Seq(16, 64, 600)
    val grid: Map[(Int, Int), Double] = (for {
      np <- nprobes; c <- cands
    } yield {
      val res = Similarity.ivfPqTopKStored(spark, index, rBook, dir + "/store",
        queries, "query_id", "embedding", k = 10, nprobe = np, candidates = c,
        residual = true)
      (np, c) -> Similarity.recallAtK(res, truth, 10)
    }).toMap
    val opqGrid: Map[Int, Double] = nprobes.map { np =>
      val res = Similarity.ivfPqTopKStored(spark, index, oModel.book, dir + "/ostore",
        queries, "query_id", "embedding", k = 10, nprobe = np, candidates = 64,
        residual = true, rotation = Some(oModel.rotation))
      np -> Similarity.recallAtK(res, truth, 10)
    }.toMap

    info("recall@10, residual IVF-PQ (nlist=16, m=8, ksub=32), 600×16d planted fixture:")
    info(f"| nprobe | ${cands.map(c => f"cand=$c%-5d").mkString(" | ")} | opq c=64 |")
    nprobes.foreach { np =>
      info(f"| $np%6d | ${cands.map(c => f"${grid((np, c))}%.3f    ").mkString(" | ")} | ${opqGrid(np)}%.3f    |")
    }
    // OPQ at the same budget: within noise of plain residual PQ on this
    // ISOTROPIC fixture (no variance imbalance to exploit — the OPQ win
    // case is pinned separately on the anisotropic fixture); bound the
    // allowed regression so a broken rotation still fails loudly
    nprobes.foreach { np =>
      assert(opqGrid(np) >= grid((np, 64)) - 0.05,
        f"OPQ regressed at nprobe=$np: ${opqGrid(np)}%.3f vs ${grid((np, 64))}%.3f")
    }

    // exact corner: full probe + full re-rank IS brute force
    assert(grid((16, 600)) === 1.0)
    // monotone in candidates at fixed probe (more re-rank budget can
    // only add true pairs)
    nprobes.foreach { np =>
      assert(grid((np, 16)) <= grid((np, 64)) + 1e-9)
      assert(grid((np, 64)) <= grid((np, 600)) + 1e-9)
    }
    // pinned floors (measured values minus slack): a probe-order or
    // decode regression craters these, seed-stable noise does not
    assert(grid((4, 64)) >= 0.80, s"recall@10 nprobe=4/cand=64 = ${grid((4, 64))}")
    assert(grid((8, 600)) >= 0.95, s"recall@10 nprobe=8/cand=600 = ${grid((8, 600))}")
    assert(grid((1, 16)) >= 0.30, s"recall@10 nprobe=1/cand=16 = ${grid((1, 16))}")
  }

  test("OPQ: learned rotation beats plain PQ at 4-bit on anisotropic data") {
    // OPQ's win condition is unequal per-subspace determinants: with
    // half the dims at full variance and half near-constant, PQ's
    // contiguous split pairs big-with-big (four hard 2-D codebooks, four
    // wasted ones) while the learned rotation pairs each big dim with a
    // small one — eight easy ~1-D codebooks. Measured: ~7× lower
    // quantization MSE. 4-bit packed codes (m=8, ksub=16) and a tight
    // candidate cut make the ADC quality decide recall.
    val rnd = new scala.util.Random(43)
    val sig = Array.tabulate(16)(i => if (i < 8) 1.0 else 0.05)
    val base = (1L to 2000L).map(i =>
      (i, Array.tabulate(16)(j => rnd.nextGaussian() * sig(j))))
    val corpus = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = base.filter(_._1 % 20 == 0).map { case (i, v) =>
      (i, v.zipWithIndex.map { case (x, j) =>
        x + rnd.nextGaussian() * 0.05 * sig(j) }.toSeq)
    }.toDF("query_id", "embedding")
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 1).cache()

    val book = Similarity.trainPq(corpus, "vec_id", "embedding", m = 8, ksub = 16)
    val codes = Similarity.encodePq(book, corpus, "vec_id", "embedding", packed = true)
    val pq = Similarity.pqTopKReranked(book, codes, corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 1, candidates = 1, packed = true)
    val rPq = Similarity.recallAtK(pq, truth, 1)

    val opq = Similarity.trainOpq(corpus, "vec_id", "embedding", m = 8, ksub = 16)
    val oCodes = Similarity.encodePq(opq.book, corpus, "vec_id", "embedding",
      packed = true, rotation = Some(opq.rotation))
    val oRes = Similarity.pqTopKReranked(opq.book, oCodes, corpus, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 1, candidates = 1,
      packed = true, rotation = Some(opq.rotation))
    val rOpq = Similarity.recallAtK(oRes, truth, 1)
    info(f"recall@1 at m=8/4-bit/cand=1: PQ $rPq%.3f vs OPQ $rOpq%.3f")

    // the rotation is orthogonal: R·Rᵀ = I to fp tolerance
    val r = opq.rotation
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k2 => r(i)(k2) * r(j)(k2)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"R not orthogonal at ($i,$j): $dot")
    }
    // pinned: the learned rotation must beat the un-rotated baseline
    // (measured 0.66 vs 0.97 — a probe-order/allocation regression
    // collapses the gap long before this floor)
    assert(rOpq >= rPq + 0.15,
      f"OPQ gain too small: PQ $rPq%.3f vs OPQ $rOpq%.3f")
    // full candidate budget → exact re-rank == brute force, rotation or not
    val oFull = Similarity.pqTopKReranked(opq.book, oCodes, corpus, "vec_id",
      "embedding", queries, "query_id", "embedding", k = 1, candidates = 2000,
      packed = true, rotation = Some(opq.rotation))
    assert(Similarity.recallAtK(oFull, truth, 1) === 1.0)
  }

  test("ANN recall@10 anisotropic sweep: OPQ column vs plain residual PQ") {
    // VERDICT r8 #3: the isotropic sweep's OPQ column is flat by
    // construction (nothing for the rotation to exploit); this is the
    // anisotropic companion — same sweep shape, half-big/half-small dims,
    // 4-bit packed codes and a tight candidate cut so ADC code quality
    // decides recall@10. Columns land in PERF.md next to the isotropic
    // table.
    val rnd = new scala.util.Random(53)
    val sig = Array.tabulate(16)(i => if (i < 8) 1.0 else 0.05)
    val base = (1L to 1000L).map(i =>
      (i, Array.tabulate(16)(j => rnd.nextGaussian() * sig(j))))
    val corpus = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = base.filter(_._1 % 40 == 0).map { case (i, v) =>
      (i, v.zipWithIndex.map { case (x, j) =>
        x + rnd.nextGaussian() * 0.02 * sig(j) }.toSeq)
    }.toDF("query_id", "embedding")
    val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 10).cache()
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 9L)
    val plain = Similarity.trainPqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 16)
    val opq = Similarity.trainOpqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 16, opqIters = 4)
    val dir = java.nio.file.Files.createTempDirectory("annaniso").toString
    Similarity.buildIvfPqStore(index, plain, corpus, "vec_id", "embedding",
      dir + "/plain", residual = true, packed = true)
    Similarity.buildIvfPqStore(index, opq.book, corpus, "vec_id", "embedding",
      dir + "/opq", residual = true, packed = true, rotation = Some(opq.rotation))
    val nprobes = Seq(1, 2, 4, 8)
    def sweep(store: String, book: Similarity.PqCodebook,
        rot: Option[Array[Array[Double]]]): Map[Int, Double] =
      nprobes.map { np =>
        val res = Similarity.ivfPqTopKStored(spark, index, book, store,
          queries, "query_id", "embedding", k = 10, nprobe = np,
          candidates = 12, residual = true, packed = true, rotation = rot)
        np -> Similarity.recallAtK(res, truth, 10)
      }.toMap
    val gPlain = sweep(dir + "/plain", plain, None)
    val gOpq = sweep(dir + "/opq", opq.book, Some(opq.rotation))
    info("recall@10, ANISOTROPIC fixture (1000×16d half-big/half-small, " +
      "nlist=8, m=8, ksub=16 packed, cand=12):")
    info("| nprobe | plain | OPQ |")
    nprobes.foreach { np =>
      info(f"| $np%6d | ${gPlain(np)}%.3f | ${gOpq(np)}%.3f |")
    }
    // OPQ never loses (small seed-noise slack), and wins where probe
    // depth stops being the bottleneck
    nprobes.foreach { np =>
      assert(gOpq(np) >= gPlain(np) - 0.02,
        f"OPQ regressed at nprobe=$np: ${gOpq(np)}%.3f vs ${gPlain(np)}%.3f")
    }
    // measured gap 0.26 (0.636 → 0.896); floor leaves seed-noise headroom
    assert(gOpq(8) >= gPlain(8) + 0.15,
      f"anisotropic OPQ gain missing at full probe: ${gOpq(8)}%.3f vs ${gPlain(8)}%.3f")
  }

  test("OPQ residual IVF-PQ store: composes with cells, exact at full cover") {
    val rnd = new scala.util.Random(47)
    val sig = Array.tabulate(16)(i => if (i < 8) 1.0 else 0.05)
    val base = (1L to 400L).map(i =>
      (i, Array.tabulate(16)(j => rnd.nextGaussian() * sig(j))))
    val corpus = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val queries = base.filter(_._1 % 40 == 0).map { case (i, v) =>
      (i, v.zipWithIndex.map { case (x, j) =>
        x + rnd.nextGaussian() * 0.02 * sig(j) }.toSeq)
    }.toDF("query_id", "embedding")
    val index = Similarity.trainIvf(corpus, "vec_id", "embedding", nlist = 8, seed = 5L)
    val model = Similarity.trainOpqResidual(index, corpus, "vec_id", "embedding",
      m = 8, ksub = 16)
    val dir = java.nio.file.Files.createTempDirectory("opqivf").toString
    Similarity.buildIvfPqStore(index, model.book, corpus, "vec_id", "embedding",
      dir + "/store", residual = true, packed = true,
      rotation = Some(model.rotation))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "corpus_id").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 3)
    // full probe + full re-rank: the OPQ'd ADC pass only ORDERS
    // candidates; with all of them re-ranked exactly, brute force falls
    // out bit-for-bit
    val full = Similarity.ivfPqTopKStored(spark, index, model.book, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 8, candidates = 400,
      residual = true, packed = true, rotation = Some(model.rotation))
    assert(rows(full) === rows(brute))
    // narrow budget: self-retrieval survives the rotated ADC cut
    val narrow = Similarity.ivfPqTopKStored(spark, index, model.book, dir + "/store",
      queries, "query_id", "embedding", k = 3, nprobe = 2, candidates = 8,
      residual = true, packed = true, rotation = Some(model.rotation))
    val qids = queries.select($"query_id").as[Long].collect().toSet
    assert(qids.forall(q => rows(narrow).contains((q, 1, q))),
      s"self-retrieval lost under OPQ: ${rows(narrow)}")
  }

  test("capPerKey: deterministic survivors, small keys untouched") {
    val rows = ((1L to 30L).map(i => ("big", i)) ++ (31L to 35L).map(i => ("small", i)))
      .toDF("domain", "id")
    val capped = Curation.capPerKey(rows, "domain", "id", n = 10, salt = "t")
    val byKey = capped.groupBy($"domain").count().as[(String, Long)].collect().toMap
    assert(byKey === Map("big" -> 10L, "small" -> 5L))
    // content-addressed: survivors identical under shuffling/repartitioning
    val again = Curation.capPerKey(rows.orderBy(rand(7)).repartition(5),
      "domain", "id", n = 10, salt = "t")
    assert(capped.select("id").as[Long].collect().toSet ===
      again.select("id").as[Long].collect().toSet)
    // different salt re-deals the choice (with 30C10 subsets, collision
    // of the whole survivor set is implausible)
    val other = Curation.capPerKey(rows, "domain", "id", n = 10, salt = "u")
    assert(capped.filter($"domain" === "big").select("id").as[Long].collect().toSet !==
      other.filter($"domain" === "big").select("id").as[Long].collect().toSet)
  }

  test("cross-doc duplicated grams: stats and spans on a planted fixture") {
    // docs 1 and 3 share the 5-token run "alpha beta gamma delta epsilon"
    // (3 trigram positions); doc 2 is unique; doc 4 repeats ITS OWN gram
    // twice but shares with nobody (within-doc repeats must not count)
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon one two"),
      (2L, "completely different text with no shared runs at all"),
      (3L, "prefix words alpha beta gamma delta epsilon suffix"),
      (4L, "echo echo echo echo echo")
    ).toDF("doc_id", "text")
    val stats = Dedup.crossDocGramStats(d, "doc_id", "text", n = 3)
      .orderBy($"id").collect()
    // doc1: 5 trigrams, 3 shared; doc3: 6 trigrams, 3 shared
    val byId = stats.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byId(1L) === ((5L, 3L)))
    assert(byId(3L) === ((6L, 3L)))
    assert(byId(2L)._2 === 0L)
    assert(byId(4L)._2 === 0L) // 3 positions of one gram, but one doc only
    val spans = Dedup.crossDocDuplicateSpans(d, "doc_id", "text", n = 3)
      .select("id", "pos").as[(Long, Int)].collect().toSet
    assert(spans === Set((1L, 0), (1L, 1), (1L, 2), (3L, 2), (3L, 3), (3L, 4)))
  }

  test("stripCrossDocDuplicates keeps the owner copy, strips the rest") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon one two"),
      (2L, "completely different text with no shared runs at all"),
      (3L, "prefix words alpha beta gamma delta epsilon suffix"),
      (4L, "alpha beta gamma") // wholly contained in the shared run
    ).toDF("doc_id", "text")
    val out = Dedup.stripCrossDocDuplicates(d, "doc_id", "text", n = 3)
      .as[(Long, String)].collect().toMap
    // doc 1 is the owner (smallest id) of every shared gram — unchanged
    assert(out(1L) === "alpha beta gamma delta epsilon one two")
    assert(out(2L) === "completely different text with no shared runs at all")
    // doc 3: positions 2..4 carry shared grams → token indices 2..6 drop
    assert(out(3L) === "prefix words suffix")
    // doc 4: its single (short-doc) gram "alpha beta gamma" is also a
    // gram of docs 1 and 3 → fully covered → empty
    assert(out(4L) === "")
  }

  test("stripCrossDocDuplicates preserves non-numeric id types") {
    // String keys must NOT be cast (a long cast nulls them out and merges
    // every doc into one null-keyed group); ownership is min-by-id in
    // string order: "a" owns the shared run, "b" gets stripped.
    val d = Seq(
      ("a", "alpha beta gamma delta epsilon one two"),
      ("b", "prefix words alpha beta gamma delta epsilon suffix")
    ).toDF("doc_id", "text")
    val out = Dedup.stripCrossDocDuplicates(d, "doc_id", "text", n = 3)
      .as[(String, String)].collect().toMap
    assert(out("a") === "alpha beta gamma delta epsilon one two")
    assert(out("b") === "prefix words suffix")
  }

  test("hot-bucket cap drops degenerate buckets; other bands still pair") {
    // 60 exact copies of one doc → every (band, bucket) holds all 60 rows.
    // With maxBucketSize=10 every bucket is dropped → zero candidates, no
    // 60² join. With the default cap they all pair.
    val boiler = (1L to 60L).map(i => (i, "identical boilerplate row served on every page"))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(boiler, "doc_id", "text", maxBucketSize = 10)
    assert(capped.count() === 0)
    val uncapped = Dedup.minhashCandidates(boiler, "doc_id", "text")
    assert(uncapped.count() === 60L * 59 / 2)
    // same guard on the simhash / ngram / embedding bucket joins
    assert(Dedup.nearDupSimhash(boiler, "doc_id", "text", maxBucketSize = 10).count() === 0)
    assert(Dedup.nearDupNgram(boiler, "doc_id", "text", threshold = 1.0,
      maxBucketSize = 10).count() === 0)
    val dupVecs = (1L to 60L).map(i => (i, Seq(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    assert(Dedup.nearDupEmbedding(dupVecs, "vec_id", "embedding", threshold = 0.99,
      maxBucketSize = 10).count() === 0)
  }

  test("minhash snapshot blocks do not accumulate across repeated calls") {
    // r19: the candidates/verify passes snapshot their sign passes with
    // localCheckpoint (the census would otherwise re-run the whole
    // shingle+sign pipeline), so blocks legitimately persist WHILE a
    // result frame is alive and are released by the ContextCleaner when
    // the frame is garbage-collected — a lazy, GC-timed event, not a
    // prompt one. The testable no-leak contract is therefore AMORTIZED:
    // a call loop with dropped results must not grow the persistent-RDD
    // set. The bound allows one call's snapshots and no more, below the
    // loop's call count, so an explicit persist() with no unpersist()
    // (the bug class this test guards) fails it even at one leaked RDD
    // per call: such an RDD is never collected.
    val iterations = 8
    def count() = spark.sparkContext.getPersistentRDDs.keySet.size
    def checkNoGrowth(door: String, snapsPerCall: Int)(run: Int => Unit): Unit = {
      require(snapsPerCall < iterations)
      val before = count()
      val bound = before + snapsPerCall
      var worst = 0
      (1 to iterations).foreach { i =>
        run(i)
        // drive the cleaner with a bounded retry loop, not one fixed
        // sleep: the async unpersists can lag a single 100 ms window on
        // a loaded box, and System.gc() may be a no-op under
        // -XX:+DisableExplicitGC — only a count persistently over the
        // bound is a leak
        var n = count()
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (n > bound && System.nanoTime() < deadline) {
          System.gc(); Thread.sleep(200); n = count()
        }
        worst = math.max(worst, n)
      }
      assert(worst <= bound,
        s"$door snapshots accumulate: persistent-RDD count held at " +
          s"$worst over $iterations calls (bound $bound) after GC retries — " +
          "a snapshot is being held past its frame's lifetime or persist() " +
          "lost its unpersist()")
    }
    // signed snap + sh snap + connected-components internals
    checkNoGrowth("nearDupMinhash", snapsPerCall = 3) { _ =>
      Dedup.nearDupMinhash(docs, "doc_id", "text", threshold = 0.6).count()
      ()
    }
    // the append's signature snapshot
    val table = "graft_pipeline_leak_store"
    Dedup.dropMinhashStore(spark, table)
    try {
      Dedup.writeMinhashStore(docs, table, buckets = 2)
      checkNoGrowth("writeMinhashStore(append)", snapsPerCall = 1) { i =>
        Dedup.writeMinhashStore(
          docs.withColumn("doc_id", $"doc_id" + 100L * i), table,
          buckets = 2, mode = "append")
      }
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("embedding OR-amplification recovers planted 0.95-cosine neighbors") {
    // 40 planted pairs: base vector + small rotation (cosine ≈ 0.95), in
    // 16 dims, far apart from other pairs (random-ish orthogonal-ish bases
    // from a deterministic LCG). Expected recall 1-(1-p^12)^T with
    // p = 1-acos(0.95)/π ≈ 0.899: one table ~28% (≈11/40), four ~73%
    // (≈29/40); assert ≥ 24 (2σ below the 4-table mean).
    val dim = 16
    def lcg(s0: Long): Long = s0 * 6364136223846793005L + 1442695040888963407L
    val rows = (0 until 40).flatMap { p =>
      var s = 1234567L + p * 999983L
      val base = Array.fill(dim) { s = lcg(s); (s >>> 20).toDouble / (1L << 43).toDouble - 0.5 }
      val n = math.sqrt(base.map(x => x * x).sum)
      val unit = base.map(_ / n)
      // rotate towards a perpendicular direction by theta = acos(0.95)
      var s2 = 7654321L + p * 424243L
      val raw = Array.fill(dim) { s2 = lcg(s2); (s2 >>> 20).toDouble / (1L << 43).toDouble - 0.5 }
      val d = raw.zip(unit).map { case (r, u) => r - u * raw.zip(unit).map(t => t._1 * t._2).sum }
      val dn = math.sqrt(d.map(x => x * x).sum)
      val perp = d.map(_ / dn)
      val c = 0.95
      val sTheta = math.sqrt(1 - c * c)
      val rotated = unit.zip(perp).map { case (u, q) => u * c + q * sTheta }
      Seq((p.toLong * 2, unit.map(_.toFloat).toSeq),
        (p.toLong * 2 + 1, rotated.map(_.toFloat).toSeq))
    }
    val vecs = rows.toDF("vec_id", "embedding")
    def recovered(tables: Int): Int =
      Dedup.nearDupEmbedding(vecs, "vec_id", "embedding", threshold = 0.94,
        bits = 12, tables = tables)
        .filter($"id_b" - $"id_a" === 1 && $"id_a" % 2 === 0)
        .count().toInt
    val multi = recovered(4)
    val single = recovered(1)
    assert(multi >= 24, s"4-table recall too low: $multi/40 (single table: $single)")
    assert(multi > single, "OR-amplification must beat a single table here")
  }

  test("top-k preserves string ids") {
    val vecs = Seq(
      ("doc-a", Seq(1.0f, 0.0f, 0.0f)),
      ("doc-b", Seq(0.99f, 0.1f, 0.0f)),
      ("doc-c", Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" === "doc-a").toDF("query_id", "embedding")
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "query_id", "embedding", k = 2)
      .select("rank", "corpus_id").as[(Int, String)].collect().toMap
    assert(topk(1) === "doc-a")
    assert(topk(2) === "doc-b")
    // unsupported id types fail loudly instead of silently nulling
    val badIds = Seq((Seq(1.0), Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(badIds, "vec_id", "embedding",
        badIds.toDF("query_id", "embedding"), "query_id", "embedding", k = 1)
    }
  }

  test("text analysis: counts, ratios, langid, fingerprint") {
    val df = Seq(("The cat and the dog sat in the house for a while",
      "der hund und die katze ist nicht hier von dem haus")).toDF("en", "de")
    val r = df.select(
      TextAnalysis.tokenCount($"en").as("tc"),
      TextAnalysis.langId($"en").as("lang_en"),
      TextAnalysis.langId($"de").as("lang_de"),
      TextAnalysis.alphaRatio($"en").as("ar"),
      TextAnalysis.fingerprint($"en").as("fp"),
      TextAnalysis.qualityScore($"en").as("q")).collect()(0)
    assert(r.getAs[Int]("tc") === 12)
    assert(r.getAs[String]("lang_en") === "en")
    assert(r.getAs[String]("lang_de") === "de")
    assert(r.getAs[Double]("ar") > 0.7)
    assert(r.getAs[String]("fp").length === 32)
    assert(r.getAs[Double]("q") > 0.3 && r.getAs[Double]("q") <= 1.0)
    // zh detection via CJK
    val zh = Seq("数据 库 引擎 很 快").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect()(0)
    assert(zh === "zh")
  }

  /** Encode a raster to bytes through the JDK writer (test fixture). */
  private def encodeImage(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Deterministic non-solid gradient raster — codec-exercising but
    * lossless-representable (exact under PNG and BMP round trips). */
  private def gradientImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 255 / math.max(w - 1, 1)) << 16) |
        ((y * 255 / math.max(h - 1, 1)) << 8) | ((x + y) * 7 % 256))
    img
  }

  test("multimodal plumbing: schema and frame explode") {
    val realPng = encodeImage(gradientImage(16, 8), "png")
    val media = Seq((1L, realPng),
      (2L, Array[Byte](9, 9, 9, 9))).toDF("id", "payload")
    val feat = Multimodal.withImageFeatures(media, "payload", featureDim = 8)
    assert(feat.schema("image_meta").dataType.typeName === "struct")
    val row = feat.filter($"id" === 1)
      .select($"image_meta.width", $"image_meta.height", size($"features")).collect()(0)
    assert(row.getInt(0) === 16 && row.getInt(1) === 8)
    assert(row.getInt(2) === 8)
    // undecodable bytes honestly yield null meta/features — never fabricated
    val junk = feat.filter($"id" === 2)
      .select($"image_meta.width".isNull, $"features".isNull).collect()(0)
    assert(junk.getBoolean(0) && junk.getBoolean(1))
    // deterministic across runs
    val f1 = feat.filter($"id" === 1).select($"features").collect()(0).getSeq[Float](0)
    val f2 = Multimodal.withImageFeatures(media, "payload", featureDim = 8)
      .filter($"id" === 1).select($"features").collect()(0).getSeq[Float](0)
    assert(f1 === f2)
    // strict (default): non-AVI payloads (a PNG, junk bytes — an MP4
    // would behave identically) yield NULL frame samples and drop out of
    // the explode; fabricated byte-slice frames never appear silently
    val frames = Multimodal.explodeFrames(media, "id", "payload", 4)
    assert(frames.count() === 0)
    assert(frames.columns.toSeq === Seq("id", "frame_idx", "frame"))
    // a real MJPEG AVI still explodes in strict mode
    val avi = Seq(3L).toDF("id").select($"id",
      Multimodal.makeMjpegAvi(lit(8), lit(8), lit(6), lit(40), lit(80),
        lit(120), lit(10)).as("payload"))
    assert(Multimodal.explodeFrames(avi, "id", "payload", 4).count() === 4)
    // the byte-slice stub is opt-in only
    val stubbed = Multimodal.explodeFrames(media, "id", "payload", 4, strict = false)
    assert(stubbed.count() === 8)
  }

  test("image decode is corruption-safe and decompression-bomb-guarded") {
    // truncated-but-claimed stream: the PNG reader recognizes the IHDR
    // fixture, then hits EOF — must yield None, never throw (one corrupt
    // blob in a 100 TB corpus must not fail the stage)
    val truncated = Seq(1).toDF("id")
      .select(Multimodal.makePngHeader(lit(64), lit(32)).as("png"))
      .select(Multimodal.decodePixels($"png").as("px"),
        Multimodal.imageFeatures(8)($"png").as("f"),
        Multimodal.channelMeans($"png").as("m"),
        Multimodal.resizeImage($"png", lit(4), lit(4)).as("rs")).collect()(0)
    assert(truncated.isNullAt(0) && truncated.isNullAt(1) &&
      truncated.isNullAt(2) && truncated.isNullAt(3))
    // bomb: tiny bytes claiming a 60000×60000 raster (~14 GB decoded) —
    // the header-stage pixel bound refuses before any raster allocation
    val bomb = Seq(1).toDF("id")
      .select(Multimodal.makePngHeader(lit(60000), lit(60000)).as("png"))
      .select(Multimodal.decodePixels($"png").isNull,
        Multimodal.imageFeatures(8)($"png").isNull).collect()(0)
    assert(bomb.getBoolean(0) && bomb.getBoolean(1))
    // the bound itself (independent of corruption): a real 16×8 image
    // decodes under a 128-pixel budget and is refused under a 50-pixel one
    val realPng = encodeImage(gradientImage(16, 8), "png")
    assert(Multimodal.readImage(realPng, maxPixels = 128).isDefined)
    assert(Multimodal.readImage(realPng, maxPixels = 50).isEmpty)
    // header fast path still reads bomb metadata cheaply (no pixel work)
    assert(Multimodal.parseImageHeader(
      Seq(1).toDF("id").select(Multimodal.makePngHeader(lit(60000), lit(60000)))
        .collect()(0).getAs[Array[Byte]](0)) === Some((60000, 60000, 3, "png")))
  }

  test("image dedup: pixel features collide under re-encoding; byte-hash cannot") {
    def l2(a: scala.collection.Seq[Float], b: scala.collection.Seq[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    val img = gradientImage(32, 24)
    val df = Seq((encodeImage(img, "png"), encodeImage(img, "bmp"))).toDF("png", "bmp")
    // same raster, two lossless codecs: pixel-space features are identical
    val featRow = df.select(
      Multimodal.imageFeatures(64)($"png"),
      Multimodal.imageFeatures(64)($"bmp")).collect()(0)
    val (fp, fb) = (featRow.getSeq[Float](0), featRow.getSeq[Float](1))
    assert(l2(fp, fb) === 0.0, "lossless re-encode must not move pixel features")
    // the byte-hash stub sees two unrelated byte streams — far apart
    val hashRow = df.select(
      Multimodal.visionEmbeddingStub(64)($"png"),
      Multimodal.visionEmbeddingStub(64)($"bmp")).collect()(0)
    val (hp, hb) = (hashRow.getSeq[Float](0), hashRow.getSeq[Float](1))
    assert(l2(hp, hb) > 0.5, s"byte-hash collided (d=${l2(hp, hb)}) — fixture broken")
    // end-to-end distributed path: PNG twin, BMP twin, a half-size resize
    // re-encode of the same picture, and one unrelated image — the LSH →
    // exact-verify pipeline pairs all three encodings, not the stranger
    val quad = Seq(
      (1L, encodeImage(img, "png")),
      (2L, encodeImage(img, "bmp")),
      (4L, encodeImage(gradientImage(17, 13), "png")) // unrelated
    ).toDF("img_id", "img").unionAll(
      Seq((3L, 0)).toDF("img_id", "z").select($"img_id",
        Multimodal.resizeImage(lit(encodeImage(img, "png")), lit(16), lit(12)).as("img")))
    val found = Multimodal.nearDupImages(quad, "img_id", "img", threshold = 0.98)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 2L)), s"lossless twin missed: $found")
    assert(found.contains((1L, 3L)) && found.contains((2L, 3L)),
      s"resized re-encode missed: $found")
    assert(!found.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated image matched: $found")
  }

  test("video dedup: transcoded copy collides in pooled frame-feature space") {
    import org.apache.spark.sql.functions._
    val vids = Seq((1L, 2, 3, 4), (3L, 7, 1, 5)).toDF("vid_id", "fr", "fg", "fb")
      .select($"vid_id", Multimodal.makeGradMjpegAvi(lit(24), lit(16), lit(6),
        $"fr", $"fg", $"fb", lit(0)).as("avi"))
    val redone = vids.filter($"vid_id" === 1)
      .select(lit(2L).as("vid_id"), Multimodal.transcodeMjpegAvi($"avi").as("avi"))
    // non-AVI bytes drop out honestly (null features)
    val junk = Seq((9L, Array[Byte](1, 2, 3))).toDF("vid_id", "avi")
    val found = Multimodal.nearDupVideos(
      vids.unionAll(redone).unionAll(junk), "vid_id", "avi",
      threshold = 0.999, nFrames = 3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(found === Set((1L, 2L)),
      s"expected exactly the transcode pair, got $found")
    val nullFeat = junk.select(Multimodal.videoFeatures(64, 3)($"avi").isNull)
      .collect()(0).getBoolean(0)
    assert(nullFeat)
  }

  test("multimodal REAL pixel plane: decode, means, resize, features, pcm") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1, 16, 8, 200, 100, 50)).toDF("id", "w", "h", "r", "g", "b")
      .withColumn("png", Multimodal.makeImage($"w", $"h", $"r", $"g", $"b", lit("png")))
      .withColumn("jpg", Multimodal.makeImage($"w", $"h", $"r", $"g", $"b", lit("jpg")))
      .withColumn("bmp", Multimodal.makeImage($"w", $"h", $"r", $"g", $"b", lit("bmp")))
    val row = df.select(
      Multimodal.decodePixels($"png").as("px"),
      Multimodal.decodePixels($"jpg").as("jx"),
      Multimodal.decodePixels($"bmp").as("bx"),
      Multimodal.channelMeans($"png").as("m"),
      Multimodal.decodePixels(Multimodal.resizeImage($"png", lit(8), lit(4))).as("rs"),
      Multimodal.extractImageFeatures(2)($"png").as("f")).collect()(0)
    assert(row.getStruct(0).getInt(0) === 16 && row.getStruct(0).getInt(1) === 8)
    assert(row.getStruct(0).getInt(2) === 3)
    assert(row.getStruct(1).getInt(0) === 16) // jpeg decodes to same dims
    assert(row.getStruct(2).getInt(0) === 16) // bmp too
    assert(row.getSeq[Double](3) === Seq(200 / 255.0, 100 / 255.0, 50 / 255.0))
    assert(row.getStruct(4).getInt(0) === 8 && row.getStruct(4).getInt(1) === 4)
    val f = row.getSeq[Double](5)
    assert(f.length === 12 && f(0) === 200 / 255.0 && f(4) === 100 / 255.0)

    // constant-amplitude PCM: rms = peak = mean = amp / 2^15 exactly
    val au = Seq(1).toDF("id")
      .withColumn("wav", Multimodal.makeWavConst(lit(800), lit(16000), lit(1000)))
      .select(Multimodal.audioStats($"wav").as("st"),
        Multimodal.decodeAudio($"wav").as("au")).collect()(0)
    val st = au.getStruct(0)
    assert(st.getDouble(0) === 1000 / 32768.0)
    assert(st.getDouble(1) === 1000 / 32768.0)
    assert(st.getDouble(2) === 1000 / 32768.0)
    assert(au.getStruct(1).getLong(3) === 50L) // 800 samples @ 16 kHz = 50 ms
  }

  test("audio spectral features: FFT pins the analytic sine fixtures") {
    // REAL DSP plane (r9): Hann-framed radix-2 FFT. A BIN-ALIGNED sine
    // (freq = m·rate/frameSize) makes the dominant bin exact; symmetric
    // Hann leakage keeps the centroid on the tone; zcr/2 is the
    // fundamental; rms of A·sin = A/√2.
    val rate = 8192; val frame = 1024
    val f1 = 96 * rate / frame  // 768 Hz, bin 96
    val f2 = 160 * rate / frame // 1280 Hz, bin 160
    val rows = Seq((1, f1.toDouble), (2, f2.toDouble)).toDF("id", "freq")
      .withColumn("wav", Multimodal.makeWavSine(lit(rate), lit(rate),
        $"freq", lit(12000)))
      .withColumn("sp", Multimodal.audioSpectral(frame)($"wav"))
      .select($"freq", $"sp.*")
      .collect()
    rows.foreach { r =>
      val freq = r.getDouble(0)
      val (dur, rms, zcr, dom, cent, bw, roll) = (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))
      assert(dur === 1.0)
      assert(math.abs(rms - 12000.0 / 32768.0 / math.sqrt(2)) < 1e-4, s"rms $rms")
      assert(math.abs(zcr - freq) < 2.0, s"zcr $zcr vs $freq")
      assert(dom === freq, s"dominant $dom vs $freq (bin-aligned: exact)")
      assert(math.abs(cent - freq) < 0.5 * rate / frame, s"centroid $cent vs $freq")
      assert(bw < 2.5 * rate / frame, s"pure tone bandwidth too wide: $bw")
      assert(math.abs(roll - freq) < 2.0 * rate / frame, s"rolloff $roll vs $freq")
    }
    // silence: zero everything, no NaNs
    val silent = Seq(1).toDF("id")
      .withColumn("wav", Multimodal.makeWavConst(lit(4096), lit(rate), lit(0)))
      .select(Multimodal.audioSpectral(frame)($"wav").as("sp"))
      .select($"sp.*").collect()(0)
    assert(silent.getDouble(1) === 0.0 && silent.getDouble(4) === 0.0)
    // two-tone mix: centroid sits between the tones, dominant on the
    // stronger one (superposition sanity for the averaged spectrum)
    val mixWav = Seq(1).toDF("id")
      .withColumn("a", Multimodal.makeWavSine(lit(rate), lit(rate),
        lit(f1.toDouble), lit(12000)))
      .select(Multimodal.pcmMix($"a",
        Multimodal.makeWavSine(lit(rate), lit(rate), lit(f2.toDouble), lit(4000)))
        .as("wav"))
      .select(Multimodal.audioSpectral(frame)($"wav").as("sp"))
      .select($"sp.*").collect()(0)
    val (mDom, mCent) = (mixWav.getDouble(3), mixWav.getDouble(4))
    assert(mDom === f1.toDouble, s"mix dominant $mDom")
    assert(mCent > f1 && mCent < f2, s"mix centroid $mCent outside ($f1, $f2)")
    // power-weighted mean: amp 3:1 → power 9:1 → (768·9 + 1280)/10 = 819.2
    assert(math.abs(mCent - 819.2) < 2.0, s"mix centroid $mCent vs 819.2")
  }

  test("deterministic split: stable, exhaustive, insensitive to other rows") {
    val ids = (0L until 1000L).toDF("id")
    val s1 = Curation.withSplit(ids, "id", salt = "x", fracTrain = 0.8, fracVal = 0.1)
    val counts = s1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 1000L)
    // realized fractions near targets (md5 is uniform; 1000 draws)
    assert(math.abs(counts("train") - 800L) < 60, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 100L) < 40, s"val=${counts("val")}")
    // assignment of id=7 doesn't depend on which other rows are present
    val single = Curation.withSplit(Seq(7L).toDF("id"), "id", salt = "x", 0.8, 0.1)
      .select("split").as[String].collect()(0)
    val inFull = s1.filter($"id" === 7L).select("split").as[String].collect()(0)
    assert(single === inFull)
    // different salt re-deals
    val s2 = Curation.withSplit(ids, "id", salt = "y", 0.8, 0.1)
    val moved = s1.select($"id", $"split".as("a"))
      .join(s2.select($"id", $"split".as("b")), "id")
      .filter($"a" =!= $"b").count()
    assert(moved > 0)
  }

  test("packShards: contiguous, budget-respecting starts, offsets in range") {
    val rows = Seq(
      ("g1", 1L, 100L), ("g1", 2L, 900L), ("g1", 3L, 150L), ("g1", 4L, 2000L),
      ("g2", 1L, 1024L), ("g2", 2L, 1024L), ("g2", 3L, 1L)
    ).toDF("src", "ord", "tok")
    val out = Curation.packShards(rows, "src", "ord", "tok", budget = 1024)
      .select($"src", $"ord", $"shard", $"shard_offset")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // g1: starts 0,100,1000,1150 → shards 0,0,0,1 ; g2: starts 0,1024,2048 → 0,1,2
    assert(out.map(r => (r._1, r._2, r._3)).toSeq === Seq(
      ("g1", 1L, 0L), ("g1", 2L, 0L), ("g1", 3L, 0L), ("g1", 4L, 1L),
      ("g2", 1L, 0L), ("g2", 2L, 1L), ("g2", 3L, 2L)))
    assert(out.forall(r => r._4 >= 0 && r._4 < 1024))
    // shard ids are monotone in order within a group
    out.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.sortBy(_._2).map(_._3).sliding(2).forall(p => p.head <= p.last))
    }
  }

  test("stratifiedSample keeps default strata fully, composes with split salt") {
    val rows = (0L until 600L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
      .toDF("id", "lang")
    val kept = Curation.stratifiedSample(rows, "lang", "id",
      Map("en" -> 0.5, "de" -> 0.0), defaultFrac = 1.0, salt = "z")
    val counts = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.getOrElse("de", 0L) === 0L)
    assert(counts("fr") === 200L) // default 1.0 keeps all
    assert(counts("en") > 50 && counts("en") < 150, s"en=${counts("en")}")
  }

  test("mixtureFractions realizes weights with the binding stratum at 1.0") {
    val fr = Curation.mixtureFractions(
      counts = Map("web" -> 1000L, "code" -> 100L, "books" -> 50L),
      weights = Map("web" -> 0.5, "code" -> 0.4, "books" -> 0.1))
    // code binds: N = 100/0.4 = 250 → web 125/1000, books 25/50
    assert(math.abs(fr("code") - 1.0) < 1e-12)
    assert(math.abs(fr("web") - 0.125) < 1e-12)
    assert(math.abs(fr("books") - 0.5) < 1e-12)
    // zero-weight stratum → keep nothing of it
    val fr2 = Curation.mixtureFractions(
      Map("a" -> 10L, "b" -> 10L), Map("a" -> 1.0, "b" -> 0.0))
    assert(fr2("b") === 0.0 && fr2("a") === 1.0)
  }

  test("hexThreshold edges and ordering") {
    assert(Curation.hexThreshold(0.0) === "00000000")
    assert(Curation.hexThreshold(1.0) === "g")
    assert(Curation.hexThreshold(0.5) === "80000000")
    val ts = Seq(0.1, 0.25, 0.5, 0.75, 0.9).map(Curation.hexThreshold)
    assert(ts === ts.sorted)
  }
}
