package perfbench

/** The metric catalogue: names, units and direction, shared by the runner
  * and `BENCHMARK.json` (the tests check that the two agree). */
object Metrics {

  final case class Def(name: String, unit: String, lowerIsBetter: Boolean)

  val endToEnd: Seq[Def] = Seq(
    Def("query_s", "s", lowerIsBetter = true),
    Def("write_s", "s", lowerIsBetter = true),
    Def("cpu_s", "s", lowerIsBetter = true),
    Def("heap_retained_mb", "MB", lowerIsBetter = true),
    Def("ok_rate", "ratio", lowerIsBetter = false),
    Def("setup_s", "s", lowerIsBetter = true))

  /** Every op of every workload, as (layer, op). */
  val ops: Seq[(String, String)] =
    Seq("measure", "predicates", "overlay", "sql_scan").map("functions" -> _) ++
      Seq("aggs" -> "union_groups", "io" -> "read_bbox", "io" -> "write_geoparquet") ++
      Seq("join" -> "sjoin") ++
      Seq("text_stats", "store_append").map("pipeline" -> _)

  val perLayer: Seq[Def] =
    ops.flatMap { case (l, o) =>
      Seq(Def(s"$l.$o.wall_s", "s", true), Def(s"$l.$o.exec_cpu_s", "s", true),
        Def(s"$l.$o.driver_gap_s", "s", true), Def(s"$l.$o.construct_jobs", "count", true))
    } ++ Seq(
      Def("serde.read_ns_per_geom", "ns", true),
      Def("serde.write_ns_per_geom", "ns", true),
      Def("plans.plan_s", "s", true),
      Def("plans.native_exprs", "count", false),
      Def("plans.udf_exprs", "count", true),
      Def("plans.fused_nodes", "count", false),
      Def("plans.spatial_join_execs", "count", false),
      Def("io.read_bbox.rows_scanned_per_row", "ratio", true),
      Def("io.write_geoparquet.mb_per_s", "MB/s", false),
      Def("spark.jobs", "count", true),
      Def("spark.tasks", "count", true),
      Def("spark.gc_s", "s", true),
      Def("spark.shuffle_mb", "MB", true),
      Def("spark.spill_mb", "MB", true),
      Def("spark.construct_jobs", "count", true),
      Def("trace.overhead_s", "s", true))
}

/** Minimal JSON rendering for the result files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
