package perfbench

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, fingerprints: String)

/** Sessions are built the way `graft.Bench` builds them: `local[nproc]`,
  * data-derived shuffle width, UTC, UI off. Spark's scratch space stays
  * inside the benchmark's work directory.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()
  /** Spark starts per run; `setup_s` takes their median. */
  val SetupRounds = 3

  def build(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        graft.SessionTuning.shufflePartitions(cfg.data, cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Starts Spark [[SetupRounds]] times, stopping the previous context
    * each time; returns the last session and the seconds each start took.
    */
  def setUp(cfg: Config): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val rounds = (0 until SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = build(cfg)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, rounds)
  }
}

/** The run's result line: exactly `correct`, `attempted`, `failed` and
  * `metrics`, each metric with its value and unit.
  */
final case class Report(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Report {
  /** The tail percentile each workload reports as `latency_ms_tail`: the
    * highest one a run of the declared length keeps at least ten samples
    * beyond (see README.md).
    */
  val TailQuantile: Map[String, Double] =
    Map("queries" -> 0.75, "stream_predict" -> 0.95)
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val cfg = Config(a.getOrElse("workload", ""), a.getOrElse("seed", "1").toLong,
      a.getOrElse("seconds", "10").toInt, a.getOrElse("trace", "0") == "1",
      arg("work"), arg("data"), a.getOrElse("fingerprints", ""))
    val report = a.getOrElse("mode", "run") match {
      case "generate" =>
        val spark = Session.build(cfg)
        try DataGen.writeAll(spark, cfg.data) finally spark.stop()
        None
      case "record" =>
        Recorder.record(cfg)
        None
      case "survey" =>
        Survey.run(cfg, arg("out"))
        None
      case "run" => Some(cfg.workload match {
        case "queries" => QueryWorkload.run(cfg)
        case "stream_predict" => StreamWorkload.run(cfg)
        case w => sys.error(s"unknown workload '$w'")
      })
    }
    report.foreach(r => println(r.json))
  }
}
