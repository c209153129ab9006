package perfbench

/** Measures every query of the 14 packs on the generated tables, so the
  * `queries` workload's one query per pack is chosen from data:
  *
  *   python3 perfbench/run.py --mode survey
  *
  * One untimed pass runs every query (JIT, parquet footers, codegen);
  * [[Passes]] more run each again, traced, as a request of the workload
  * would run, and each figure of a query is its median over them. Writes
  * one row per query to `query_survey.tsv` and prints
  * each pack's medians and its representative ([[choose]]), and the
  * per-job floor fit over every query ([[FloorFit]]).
  */
object Survey {
  val Passes = 3

  final case class Row(pack: String, query: String, ok: Boolean, wallMs: Double,
      buildMs: Double, planMs: Double, execMs: Double, releaseMs: Double,
      jobs: Long, buildJobs: Long, taskPathMs: Double)

  /** The pack's representative: the query that ran whose wall time, job
    * count and build time lie closest to the pack's medians, by the sum of
    * |ln((x + 1) / (median + 1))| over the three (wall time without the +1).
    */
  def choose(rows: Seq[Row]): Row = {
    val ok = rows.filter(_.ok)
    def med(f: Row => Double) = Stats.median(ok.map(f))
    val (w, j, b) = (med(_.wallMs), med(_.jobs.toDouble), med(_.buildMs))
    ok.minBy(r => (math.abs(math.log(r.wallMs / w)) +
      math.abs(math.log((r.jobs + 1) / (j + 1))) +
      math.abs(math.log((r.buildMs + 1) / (b + 1))), r.query))
  }

  /** Reads a survey written by [[run]]. */
  def load(path: String): Seq[Row] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().drop(1).map(_.split("\t")).map { f =>
      Row(f(0), f(1), f(2).toBoolean, f(3).toDouble, f(4).toDouble, f(5).toDouble,
        f(6).toDouble, f(7).toDouble, f(8).toLong, f(9).toLong, f(10).toDouble)
    }.toSeq
    finally src.close()
  }

  def run(cfg: Config, out: String): Unit = {
    val all = QueryWorkload.Packs.flatMap { case (p, pack) => pack.queries.map(q => p -> q.name) }
    val spark = Session.build(cfg)
    all.foreach { case (_, q) => QueryWorkload.request(spark, cfg.data, q, s"w-$q", None) }
    val cores = spark.sparkContext.defaultParallelism
    val tracer = new Tracer(spark.sparkContext)
    tracer.attach()
    val runs = (1 to Passes).map { pass =>
      all.map { case (p, q) =>
        val o = QueryWorkload.request(spark, cfg.data, q, s"s$pass-$q", Some(tracer))
        tracer.flush()
        val phases = tracer.listener.forGroup(o.id)
        if (!o.ok) System.err.println(s"[survey] $q failed: ${o.error}")
        Row(p, q, o.ok, o.wallMs, o.buildMs, o.planMs, o.execMs, o.releaseMs,
          phases.values.map(_.jobs).sum, phases.get("build").map(_.jobs).getOrElse(0L),
          tracer.listener.jobTimings(o.id).map(_.computeMs(cores)).sum)
      }
    }
    val rows = runs.transpose.map { rs =>
      def med(f: Row => Double) = Stats.median(rs.map(f))
      Row(rs.head.pack, rs.head.query, rs.forall(_.ok), med(_.wallMs), med(_.buildMs),
        med(_.planMs), med(_.execMs), med(_.releaseMs), med(_.jobs.toDouble).round,
        med(_.buildJobs.toDouble).round, med(_.taskPathMs))
    }
    spark.stop()

    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println("pack\tquery\tok\twall_ms\tbuild_ms\tplan_ms\texec_ms\trelease_ms\tjobs\tbuild_jobs\ttask_path_ms")
      rows.foreach { r =>
        w.println(f"${r.pack}\t${r.query}\t${r.ok}\t${r.wallMs}%.1f\t${r.buildMs}%.1f\t" +
          f"${r.planMs}%.1f\t${r.execMs}%.1f\t${r.releaseMs}%.1f\t${r.jobs}\t${r.buildJobs}\t" +
          f"${r.taskPathMs}%.1f")
      }
    } finally w.close()

    // Choose from the rows as written, so the printed choice is the one
    // the committed file gives.
    val written = load(out)
    println("pack n median_wall_ms median_jobs median_build_ms | chosen wall_ms jobs build_ms")
    QueryWorkload.PackNames.foreach { p =>
      val rs = written.filter(r => r.pack == p && r.ok)
      val c = choose(rs)
      println(f"$p%-18s ${rs.size}%3d ${Stats.median(rs.map(_.wallMs))}%8.1f " +
        f"${Stats.median(rs.map(_.jobs.toDouble))}%5.1f ${Stats.median(rs.map(_.buildMs))}%7.1f | " +
        f"${c.query}%-34s ${c.wallMs}%8.1f ${c.jobs}%3d ${c.buildMs}%7.1f")
    }
    val ok = written.filter(_.ok)
    val fit = FloorFit.fit(ok.map(r => (r.wallMs - r.taskPathMs, r.jobs.toDouble)))
    println(f"floor fit over ${ok.size} queries: wall - task critical path = " +
      f"${fit.perRequestMs}%.1f ms per request + ${fit.perJobMs}%.1f ms per job")
  }
}
