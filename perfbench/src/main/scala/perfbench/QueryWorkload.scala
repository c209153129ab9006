package perfbench

import graft.{CacheScope, PerfbenchProbe, QueryPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import scala.collection.mutable.ArrayBuffer

/** The `queries` workload: a closed loop, one client, over a fixed list of
  * queries, one from each pack plus two named targets, in a seeded order
  * per pass.
  *
  * A request is one query, the way a service answers it: build the frame,
  * plan it, collect a full-column `xxhash64`/`bit_xor` fingerprint (the
  * same forcing `graft.Bench` uses, plus a row count), then
  * `CacheScope.release`, the engine's documented request boundary.
  */
object QueryWorkload {
  import graft.queries._

  val Packs: Seq[(String, QueryPack)] = Seq(
    "Relational" -> Relational, "TimeSeriesQueries" -> TimeSeriesQueries,
    "IndicatorQueries" -> IndicatorQueries, "IngestQueries" -> IngestQueries,
    "ServingQueries" -> ServingQueries, "FeatureQueries" -> FeatureQueries,
    "SqlQueries" -> SqlQueries, "ApproxQueries" -> ApproxQueries,
    "TextQueries" -> TextQueries, "VectorQueries" -> VectorQueries,
    "DedupQueries" -> DedupQueries, "MultimodalQueries" -> MultimodalQueries,
    "SamplingQueries" -> SamplingQueries, "CurationQueries" -> CurationQueries)
  val PackNames: Seq[String] = Packs.map(_._1)

  private lazy val byName: Map[String, (String, graft.Query)] =
    Packs.flatMap { case (p, pack) => pack.queries.map(q => q.name -> (p -> q)) }.toMap

  def packOf(query: String): String = byName(query)._1

  /** The `queries` workload: one query from each of the 14 packs, the
    * eight reference-surface packs first, then the six curation packs,
    * each the representative [[Survey.choose]] picks from the committed
    * survey (`query_survey.tsv`). The list is fixed so every run does the
    * same work.
    */
  val Reference: Seq[String] = Seq(
    "q_join_broadcast_part", "q_a_vwap", "q_w8_macd_final", "q_p3_dual_ts",
    "q_u1_cnn_forward", "q_w16_rolling_mse", "q_sql_attribution", "q_p9_winsorize_approx")
  val Curation: Seq[String] = Seq(
    "q_t_chunk_dedup", "q_e_semdedup_incremental", "q_sql_dedup_groups",
    "q_m_decode_profile", "q_s_fixed_k_sample", "q_t_length_drift")
  /** Two open ROADMAP items named by query, run beside the pack
    * representatives and reported apart (`group.targets.wall_ms`): the
    * slowest credible query and a cold sketch build.
    */
  val Targets: Seq[String] = Seq("q_d_containment_pairs", "q_s_curriculum_phases_approx")
  val Queries: Seq[String] = Reference ++ Curation ++ Targets

  final case class Outcome(query: String, id: String, ok: Boolean, error: String,
      fingerprint: (Long, Long), wallMs: Double, buildMs: Double, planMs: Double,
      execMs: Double, releaseMs: Double, cachedMb: Double, memoEntries: Int,
      traced: Boolean)

  /** MB held by persisted blocks right now (memory plus disk). */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** One request. The storage probe before release is excluded from the
    * request's wall time; everything else is inside it.
    */
  def request(spark: SparkSession, data: String, query: String, id: String,
      tracer: Option[Tracer]): Outcome = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.GroupProp, id)
    def phase(p: String): Unit = sc.setLocalProperty(Tracer.PhaseProp, p)
    val t0 = System.nanoTime()
    var t1, t2, t3, t4 = t0
    var fp = (0L, 0L)
    var err = ""
    var cached = 0.0
    var memo = 0
    var probeNs = 0L
    try {
      phase("build")
      val df = byName(query)._2.run(spark, data)
      t1 = System.nanoTime()
      phase("plan")
      val h = fingerprintFrame(df)
      h.queryExecution.executedPlan
      t2 = System.nanoTime()
      phase("exec")
      val row = h.collect()(0)
      fp = (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
      t3 = System.nanoTime()
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        val now = System.nanoTime()
        if (t1 == t0) t1 = now
        if (t2 == t0) t2 = now
        t3 = now
    } finally {
      val p0 = System.nanoTime()
      cached = storageMb(spark)
      memo = PerfbenchProbe.memoEntries
      probeNs = System.nanoTime() - p0
      phase("release")
      val r0 = System.nanoTime()
      CacheScope.release(spark)
      t4 = System.nanoTime()
      phase(null)
      tracer.foreach { tr =>
        tr.record(id, "request", "", t0, t4)
        tr.record(id, "build", "request", t0, t1)
        tr.record(id, "plan", "request", t1, t2)
        tr.record(id, "exec", "request", t2, t3)
        tr.record(id, "release", "request", r0, t4)
      }
    }
    Outcome(query, id, err.isEmpty, err, fp, (t4 - t0 - probeNs) / 1e6, (t1 - t0) / 1e6,
      (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t4 - t3 - probeNs) / 1e6, cached, memo,
      tracer.isDefined)
  }

  def fingerprintFrame(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("__h"))
      .agg(expr("bit_xor(__h)"), count(lit(1)))

  def order(queries: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries)

  def run(cfg: Config): Report = {
    val expected = Fingerprints.load(cfg.fingerprints)
    val outcomes = ArrayBuffer.empty[Outcome]
    var seq = 0
    def next(s: SparkSession, q: String, tracer: Option[Tracer]): Unit = {
      seq += 1
      val o = request(s, cfg.data, q, s"r$seq", tracer)
      outcomes += o
      if (!o.ok) System.err.println(s"[perfbench] ${o.query} failed: ${o.error}")
    }

    // Set-up: Spark started several times, then one untimed warm-up pass
    // over the workload's queries (JIT, parquet footers, codegen). The
    // set-up time is the median start plus the warm-up pass.
    val (spark, rounds) = Session.setUp(cfg)
    val w0 = System.nanoTime()
    order(Queries, cfg.seed, -1).foreach(next(spark, _, None))
    val setupS = Stats.median(rounds) + (System.nanoTime() - w0) / 1e9
    val warmCount = outcomes.size

    // Timed closed loop over whole passes, so every query counts equally
    // in every run. In a traced run each query carries the listener in
    // every other pass, starting with half of the queries in the first, so
    // from two passes on every query is traced and also gives an untraced
    // baseline for the overhead figure. The loop runs past the deadline to
    // finish its pass, and on a slow host until the tail percentile has its
    // samples.
    val tailQ = Report.TailQuantile(cfg.workload)
    val minRequests = Stats.minSamples(tailQ)
    val tracer = new Tracer(spark.sparkContext)
    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)
    val start = System.nanoTime()
    val deadline = start + (cfg.seconds * 1e9).toLong
    var pass = 0
    while (System.nanoTime() < deadline || outcomes.size - warmCount < minRequests ||
        (cfg.trace && pass < 2)) {
      order(Queries, cfg.seed, pass).foreach { q =>
        if (cfg.trace && (Queries.indexOf(q) + pass) % 2 == 0) {
          tracer.attach()
          next(spark, q, Some(tracer))
          tracer.flush() // after the request's wall has been taken
          tracer.detach()
        } else next(spark, q, None)
      }
      pass += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9
    Tracer.flush(spark.sparkContext, storage)
    val timed = outcomes.drop(warmCount).toSeq

    val checked = outcomes.toSeq.map(o => o -> (o.ok && expected.get(o.query).contains(o.fingerprint)))
    checked.filter { case (o, good) => o.ok && !good }.foreach { case (o, _) =>
      System.err.println(s"[perfbench] ${o.query} fingerprint ${o.fingerprint} != " +
        s"expected ${expected.get(o.query)}")
    }
    val failed = checked.count(!_._2)
    val walls = timed.map(_.wallMs)
    val tail = Stats.percentile(walls, tailQ).get
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_ms_p50", Stats.median(walls), "ms"),
      ("latency_ms_tail", tail, "ms"),
      ("throughput_per_s", timed.size / elapsedS, "1/s"),
      ("peak_cached_mb", storage.peakMb, "MB"))
    System.err.println(f"[perfbench] ${cfg.workload}: ${timed.size} requests in $elapsedS%.1f s, " +
      f"set-up ${rounds.map(s => f"$s%.2f").mkString(" ")} s + warm-up, $setupS%.2f s, $failed failed")

    val metrics =
      if (!cfg.trace) e2e
      else {
        tracer.write(s"${cfg.work}/trace-${cfg.workload}-${cfg.seed}.jsonl")
        Layers.queries(timed, tracer, spark.sparkContext.defaultParallelism)
      }
    spark.stop()
    Report(failed == 0, outcomes.size, failed, metrics)
  }
}

/** Committed per-query output fingerprints: `name xor count` per line. */
object Fingerprints {
  def load(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, x, c) = l.split("\\s+")
      n -> (x.toLong, c.toLong)
    }.toMap
    finally src.close()
  }
}
