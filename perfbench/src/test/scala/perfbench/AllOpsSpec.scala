package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every op passes its check on small seeded inputs, at two seeds, and a
  * traced pass holds the two attribution checks. */
class AllOpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = java.nio.file.Files.createTempDirectory(
    new java.io.File("target").getAbsoluteFile.toPath, "allops").toFile

  private lazy val spark = graft.api.GraftSession.builder("perfbench-test")
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
    .getOrCreate()

  override def beforeAll(): Unit = graft.Geo.registerAll(spark)
  override def afterAll(): Unit = { spark.stop(); Main.deleteTree(work) }

  private def failures(runner: Runner): Iterable[String] =
    runner.verdicts.collect { case (k, v) if v.failures > 0 => s"$k: ${v.firstError}" }

  private def allPass(wl: Workload, seed: Long): Runner = {
    val runner = new Runner(spark, wl)
    wl.setup(spark, new java.io.File(work, s"${wl.name}-$seed"), seed)
    runner.plainPass(0)
    runner.plainPass(1)
    assert(failures(runner).isEmpty, failures(runner).mkString("; "))
    assert(runner.verdicts.keySet.map(_.split('.').last) == wl.ops(0).map(_.name).toSet)
    runner
  }

  private def geo = new Combined("geo", new GeoScan(features = 600, files = 3),
    new GeoJoin(side = 12, files = 3))

  for (seed <- Seq(1L, 7L)) {
    test(s"geo, every op, seed $seed") {
      allPass(geo, seed)
    }
    test(s"corpus_ingest, every op, seed $seed") {
      allPass(new CorpusIngest(corpusDocs = 300, batchDocs = 200, batchesPerPass = 1, files = 3), seed)
    }
  }

  test("a traced pass attributes sjoin's build-side collect to construct, none to measure") {
    val runner = allPass(geo, 3L)
    val (_, m) = runner.tracedPass(2, new Tracer(spark.sparkContext))
    assert(m("join.sjoin.construct_jobs") >= 1)
    assert(m("functions.measure.construct_jobs") == 0)
    assert(runner.verdicts.keySet.contains("attribution.join.sjoin.construct_jobs"))
    assert(failures(runner).isEmpty, failures(runner).mkString("; "))
  }
}
