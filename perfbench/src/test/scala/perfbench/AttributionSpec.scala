package perfbench

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Runs `body` under a fresh tracer and listener; returns the attribution. */
  private def traced(body: Tracer => Unit): (Tracer, Attribution) = {
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc)
    try body(tracer)
    finally {
      BusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    (tracer, new Attribution(tracer.spans, listener.jobs.toSeq, listener.stageTimes,
      listener.stageSums))
  }

  private def id(t: Tracer, name: String): Int = t.spans.find(_.name == name).get.id

  test("a job run while building the frame counts as construct, the action as execute") {
    val (t, attr) = traced { tr =>
      tr.span("op", tr.newTrace()) {
        val df = tr.span("construct") {
          // an eager job inside the door (an RDD action: exactly one job)
          val n = spark.sparkContext.parallelize(1 to 100, 2).count()
          spark.range(n)
        }
        tr.span("plan")(df.queryExecution.executedPlan)
        tr.span("execute")(df.collect())
      }
    }
    assert(attr.work(id(t, "construct")).jobs == 1)
    assert(attr.work(id(t, "plan")).jobs == 0)
    assert(attr.work(id(t, "execute")).jobs == 1)
    val op = attr.work(id(t, "op"))
    assert(op.jobs == 2)
    assert(op.tasks >= 2 && op.cpuNs > 0)
    assert(op.stageIntervals.nonEmpty)
  }

  test("a lazy frame has no construct jobs") {
    val (t, attr) = traced { tr =>
      tr.span("op", tr.newTrace()) {
        val df = tr.span("construct")(spark.range(10).selectExpr("id * 2 AS x"))
        tr.span("execute")(df.collect())
      }
    }
    assert(attr.work(id(t, "construct")).jobs == 0)
    assert(attr.work(id(t, "execute")).jobs == 1)
  }

  test("a job under a foreign job group goes to the innermost span open when it started") {
    val (t, attr) = traced { tr =>
      tr.span("op", tr.newTrace()) {
        tr.span("execute") {
          spark.sparkContext.setJobGroup("someone-else", "", interruptOnCancel = false)
          spark.sparkContext.parallelize(1 to 10, 2).count()
        }
      }
    }
    assert(attr.work(id(t, "execute")).jobs == 1)
  }

  test("spans of one op share its trace id and nest under it") {
    val (t, _) = traced { tr =>
      tr.span("pass") {
        tr.span("op", tr.newTrace())(tr.span("construct")(()))
      }
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("construct").traceId == byName("op").traceId)
    assert(byName("construct").parent == byName("op").id)
    assert(byName("op").parent == byName("pass").id)
    assert(byName("pass").traceId != byName("op").traceId)
  }
}
