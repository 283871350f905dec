package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{Row, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Closed-loop benchmark runner: one client runs a workload's op sequence
  * pass after pass against a local session of the engine, checks every
  * result, and reports medians over passes.
  *
  * {{{
  * Main --workload geo --seed 1 --seconds 10 --trace 0 --out r.json --work dir
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * untraced and traced passes and reports the per-layer metrics of the
  * traced ones, plus the difference in `query_s` between the two kinds
  * (the tracing overhead). The full report goes to `--out`; the last line
  * of standard output is the summary JSON object. */
object Main {

  /** How many times set-up runs; `setup_s` counts it once, at the median. */
  val SetupRepeats = 3
  /** Untimed passes before the timed ones: the first pays codegen and class
    * loading, the second lets the JIT settle (with one, `corpus_ingest`'s
    * write and CPU times still fell by a quarter over the timed passes). */
  val WarmupPasses = 2
  /** Fewest timed passes of each kind, however long they take; the
    * reported times are medians over them. */
  val MinPasses = 3

  def workload(name: String): Workload = name match {
    case "geo" => new Combined("geo", new GeoScan(features = 10000, files = 8),
      new GeoJoin(side = 32, files = 8))
    case "corpus_ingest" => new CorpusIngest(corpusDocs = 1000, batchDocs = 3000,
      batchesPerPass = 1, files = 8)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, work: String, commit: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("work"), m.getOrElse("commit", "unknown"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val work = new File(a.work)
    deleteTree(work)
    work.mkdirs()
    val k = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val spark = graft.api.GraftSession.builder("perfbench")
      .master(s"local[$k]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Geo.registerAll(spark)
    val wl = workload(a.workload)
    val runner = new Runner(spark, wl)

    val setupS = (1 to SetupRepeats).map { i =>
      val dir = new File(work, s"setup$i")
      val (_, s) = seconds(wl.setup(spark, dir, a.seed))
      log(f"setup $i: $s%.3f s")
      if (i > 1) deleteTree(new File(work, s"setup${i - 1}"))
      s
    }
    val (_, warmupS) = seconds((0 until WarmupPasses).foreach(runner.plainPass(_, timed = false)))
    val startupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // process start to the first timed op, set-up counted once, at the
    // median of its repeats
    val setupMetric = startupS - setupS.sum + Stats.median(setupS)

    val plain = mutable.ArrayBuffer.empty[PassTimes]
    val traced = mutable.ArrayBuffer.empty[PassTimes]
    val layer = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracer = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = WarmupPasses
    while (elapsed < a.seconds || plain.length < MinPasses || (a.trace && traced.length < MinPasses)) {
      if (a.trace && pass % 2 == 0) {
        val (times, m) = runner.tracedPass(pass, tracer)
        traced += times
        m.foreach { case (key, v) => layer.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v }
      } else plain += runner.plainPass(pass)
      pass += 1
    }
    val heapMb = retainedHeapMb()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("query_s") = (Stats.median(plain.map(_.queryS).toSeq), "s")
      metrics("write_s") = (Stats.median(plain.map(_.writeS).toSeq), "s")
      metrics("cpu_s") = (Stats.median(plain.map(_.cpuS).toSeq), "s")
      metrics("heap_retained_mb") = (heapMb, "MB")
      metrics("ok_rate") = (1.0 - runner.failed.toDouble / runner.attempted, "ratio")
      metrics("setup_s") = (setupMetric, "s")
    } else {
      val (rd, wr) = Serde.nsPerGeom(wl.geometrySample)
      layer.getOrElseUpdate("serde.read_ns_per_geom", mutable.ArrayBuffer.empty) += rd
      layer.getOrElseUpdate("serde.write_ns_per_geom", mutable.ArrayBuffer.empty) += wr
      layer("trace.overhead_s") = mutable.ArrayBuffer(
        Stats.median(traced.map(_.queryS).toSeq) - Stats.median(plain.map(_.queryS).toSeq))
      Metrics.perLayer.foreach { d =>
        val v = layer.get(d.name).filter(_.nonEmpty).map(vs => Stats.median(vs.toSeq)).getOrElse(0.0)
        metrics(d.name) = (v, d.unit)
      }
    }

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors, "k" -> k,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "commit" -> a.commit)
    val errorRate = runner.failed.toDouble / runner.attempted
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "env" -> env, "correct" -> (runner.failed == 0), "attempted" -> runner.attempted,
      "failed" -> runner.failed, "error_rate" -> errorRate,
      "untraced_passes" -> plain.length, "traced_passes" -> traced.length,
      "startup_s" -> startupS, "warmup_s" -> warmupS, "setup_s_samples" -> setupS,
      "ops" -> runner.verdicts.map { case (key, v) =>
        key -> Map("attempts" -> v.attempts, "failures" -> v.failures, "first_error" -> v.firstError)
      },
      "per_pass" -> Map("query_s" -> plain.map(_.queryS), "write_s" -> plain.map(_.writeS),
        "cpu_s" -> plain.map(_.cpuS), "traced_query_s" -> traced.map(_.queryS)),
      "op_wall_s" -> runner.opWalls,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) })
    if (a.trace) {
      val spans = tracer.spans
      writeFile(new File(a.out + ".spans.json"), Json.render(spans.map(s => Map(
        "id" -> s.id, "trace" -> s.traceId, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> Intervals.selfTimeMs(s, spans)))))
    }
    spark.stop()
    // box-speed diagnostic, taken with the engine stopped
    val calibS = Calibration.seconds(k)
    report("calibration_s") = calibS
    report("speed_factor") = Calibration.ReferenceSeconds / calibS
    writeFile(new File(a.out), Json.render(report))

    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"passes=${plain.length}+${traced.length} k=$k attempted=${runner.attempted} " +
      s"failed=${runner.failed} error_rate=$errorRate")
    metrics.foreach { case (n, (v, u)) => println(f"  $n%-58s $v%14.6f $u") }
    runner.verdicts.foreach { case (key, v) =>
      println(f"  op $key%-44s ${if (v.failures == 0) "ok" else "FAILED"}%-6s " +
        s"${v.attempts - v.failures}/${v.attempts}${v.firstError.map(" " + _).getOrElse("")}")
    }
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (runner.failed == 0), "attempted" -> runner.attempted,
      "failed" -> runner.failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    System.out.flush()
  }

  def writeFile(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
  }

  /** Heap in use after forced full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Wall and process-CPU seconds of one pass. */
final case class PassTimes(queryS: Double, writeS: Double, cpuS: Double)

/** Runs passes and keeps each op's verdicts. */
final class Runner(spark: SparkSession, wl: Workload) {
  final class Verdict { var attempts = 0; var failures = 0; var firstError: Option[String] = None }
  val verdicts = mutable.LinkedHashMap.empty[String, Verdict]
  /** Untraced wall seconds of each op, one value per timed pass. */
  val opWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Checks a result and counts the attempt; an exception is a failure. */
  def settle(op: Op, result: Try[Array[Row]]): Unit =
    judge(op.key, result match {
      case Success(rows) => Try(op.check(rows)) match {
        case Success(e) => e
        case Failure(e) => Some("check: " + message(e))
      }
      case Failure(e) => Some(message(e))
    })

  /** Counts one attempt under `key`, failed when `err` is set. */
  def judge(key: String, err: Option[String]): Unit = {
    val v = verdicts.getOrElseUpdate(key, new Verdict)
    v.attempts += 1
    attempted += 1
    err.foreach { e =>
      v.failures += 1
      failed += 1
      if (v.firstError.isEmpty) v.firstError = Some(e)
      System.err.println(s"[perfbench] $key failed: $e")
    }
  }

  def plainPass(pass: Int, timed: Boolean = true): PassTimes = {
    val ops = wl.ops(pass)
    var (q, w, c) = (0.0, 0.0, 0.0)
    ops.foreach { op =>
      val c0 = Main.cpuNs
      val (res, wall) = Main.seconds(Try(op.act(op.build())))
      c += (Main.cpuNs - c0) / 1e9
      if (op.isWrite) w += wall else q += wall
      Main.log(f"pass $pass ${op.key}: $wall%.3f s")
      if (timed) opWalls.getOrElseUpdate(op.key, mutable.ArrayBuffer.empty) += wall
      settle(op, res)
    }
    PassTimes(q, w, c)
  }

  /** One traced pass: spans pass → op → {construct, plan, execute}, Spark
    * events attributed to them. Returns the pass times and the per-layer
    * values of this pass. */
  def tracedPass(pass: Int, tracer: Tracer): (PassTimes, Map[String, Double]) = {
    val ops = wl.ops(pass)
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val first = tracer.spans.length
    final case class Done(op: Op, span: Int, construct: Int, plan: Option[Span],
        counts: Option[PlanCounts], gcMs: Long, cpuNs: Long)
    val done = mutable.ArrayBuffer.empty[Done]
    tracer.span("pass") {
      ops.foreach { op =>
        val trace = tracer.newTrace()
        var construct = -1
        var plan: Option[Span] = None
        var frame: org.apache.spark.sql.DataFrame = null
        val (g0, c0) = (Main.gcMs, Main.cpuNs)
        val res = tracer.span(s"op:${op.key}", trace) {
          Try {
            val df = try tracer.span("construct")(op.build()) finally construct = tracer.last.id
            frame = df
            if (!op.isWrite) {
              tracer.span("plan")(df.queryExecution.executedPlan)
              plan = Some(tracer.last)
            }
            tracer.span("execute")(op.act(df))
          }
        }
        val opSpan = tracer.last.id
        val (g1, c1) = (Main.gcMs, Main.cpuNs)
        val counts = if (op.isWrite || frame == null || res.isFailure) None
          else Some(PlanCounts.of(frame.queryExecution.executedPlan))
        done += Done(op, opSpan, construct, plan, counts, g1 - g0, c1 - c0)
        tracer.span("verify")(settle(op, res))
      }
    }
    BusDrain.drain(sc)
    sc.removeSparkListener(listener)
    val spans = tracer.spans.drop(first)
    val byId = spans.map(s => s.id -> s).toMap
    val attr = listener.synchronized {
      new Attribution(spans, listener.jobs.toSeq, listener.stageTimes.clone(), listener.stageSums.clone())
    }
    val m = mutable.Map.empty[String, Double]
    var (q, w, c) = (0.0, 0.0, 0.0)
    var (jobs, tasks, gc, shuffle, spill, constructJobs, planS) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    var counts = PlanCounts.Zero
    done.foreach { d =>
      val s = byId(d.span)
      val wk = attr.work(d.span)
      val cj = if (d.construct >= 0) attr.work(d.construct).jobs else 0
      val key = d.op.key
      m(s"$key.wall_s") = s.durMs / 1e3
      m(s"$key.exec_cpu_s") = wk.cpuNs / 1e9
      m(s"$key.driver_gap_s") = Intervals.driverGapMs(s, wk.stageIntervals) / 1e3
      m(s"$key.construct_jobs") = cj
      if (d.op.isWrite) w += s.durMs / 1e3 else q += s.durMs / 1e3
      c += d.cpuNs / 1e9
      jobs += wk.jobs; tasks += wk.tasks; gc += d.gcMs / 1e3
      shuffle += wk.shuffleBytes / 1e6; spill += wk.spillBytes / 1e6; constructJobs += cj
      planS += d.plan.map(_.durMs / 1e3).getOrElse(0.0)
      d.counts.foreach(x => counts = counts + x)
      if (key == "io.read_bbox")
        wl.outcomes.get("read_bbox.rows").flatMap(_.lastOption).filter(_ > 0)
          .foreach(rows => m("io.read_bbox.rows_scanned_per_row") = wk.inputRecords / rows)
      if (key == "io.write_geoparquet")
        m("io.write_geoparquet.mb_per_s") = wk.outputBytes / 1e6 / (s.durMs / 1e3)
    }
    m ++= Seq("spark.jobs" -> jobs, "spark.tasks" -> tasks, "spark.gc_s" -> gc,
      "spark.shuffle_mb" -> shuffle, "spark.spill_mb" -> spill,
      "spark.construct_jobs" -> constructJobs, "plans.plan_s" -> planS,
      "plans.native_exprs" -> counts.native.toDouble, "plans.udf_exprs" -> counts.udf.toDouble,
      "plans.fused_nodes" -> counts.fused.toDouble,
      "plans.spatial_join_execs" -> counts.spatialJoins.toDouble)
    // two attributions known in advance: `sjoin` collects its broadcast
    // build side while building the frame, `measure` runs no job before
    // the caller's action
    Seq[(String, Double => Boolean)]("join.sjoin.construct_jobs" -> (_ >= 1),
        "functions.measure.construct_jobs" -> (_ == 0)).foreach { case (key, expected) =>
      m.get(key).foreach(j => judge(s"attribution.$key", if (expected(j)) None else Some(s"$key = $j")))
    }
    (PassTimes(q, w, c), m.toMap)
  }
}

/** A fixed CPU and allocation load (JTS buffers and their EWKB) on k
  * threads. On a shared box the speed of a core drifts by tens of percent
  * within minutes; the report records this load's time next to the
  * measured ones so that a reader can tell a slow box from a slow engine.
  * No metric is scaled by it. */
object Calibration {
  /** The load's wall time on the box the bounds were set on. */
  val ReferenceSeconds = 0.35

  private val shape = Geom.point(0, 0).buffer(1.0, 8)
  private val Iterations = 12000

  private def load(): Double = {
    var acc = 0.0
    var i = 0
    while (i < Iterations) {
      val g = shape.buffer(0.1 + (i % 7) * 0.01, 8)
      acc += g.getArea + Geom.ewkb(g, 0).length
      i += 1
    }
    acc
  }

  /** Median wall seconds of three rounds of the load on `k` threads, after
    * one untimed round that compiles it. */
  def seconds(k: Int): Double = Stats.median((0 to 3).map { _ =>
    val t0 = System.nanoTime()
    val threads = (1 to k).map(_ => new Thread(() => { load(); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.tail)
}

/** EWKB parse and serialize cost on a sample of the workload's geometries.
  * The sample is larger than the parse cache, so reads miss it. */
object Serde {
  def nsPerGeom(sample: Seq[Array[Byte]]): (Double, Double) = {
    if (sample.isEmpty) return (0.0, 0.0)
    val geoms = sample.map(graft.serde.EWKB.read(_).copy())
    def time(f: () => Unit): Double = {
      f() // warm
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 200000000L) { f(); reps += 1 }
      (System.nanoTime() - t0).toDouble / reps / sample.length
    }
    val rd = time(() => sample.foreach(b => sink += graft.serde.EWKB.read(b).getNumPoints))
    val wr = time(() => geoms.foreach(g => sink += graft.serde.EWKB.write(g).length))
    (rd, wr)
  }

  /** Keeps the timed calls' results live. */
  @volatile private var sink = 0L
}
