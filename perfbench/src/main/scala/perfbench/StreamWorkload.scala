package perfbench

import graft.serve.{LstmForward, Serving}
import graft.streaming.StreamIngest
import graft.ts.FeatureFrame
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `stream_predict`: the reference's own path, event JSON to prediction
  * write, as a Structured Streaming query over a MemoryStream.
  *
  * The generator renders ticker events as Advanced-Trade envelopes. Each
  * micro-batch runs, through public engine functions only:
  * `parseTickerEnvelopes` → `lwwUpsertPartitioned` (keyed on product and
  * event time, last writer by emit sequence) → `rollupUpsertPartitioned`
  * (per product and 5-minute bucket) → `buildCandles` over the LWW state →
  * `FeatureFrame.enhance` → `predictLatestWith(LstmForward.forward)` →
  * `dualWrite`. Each step is materialized on its own so its time can be
  * read from outside.
  *
  * Phase 1 drains a fixed backlog of early history in fixed-size batches
  * (catch-up rate). Phase 2 offers the rest open loop at [[LiveRate]]
  * events/s; an event's latency runs from its due time to the commit of
  * the batch that writes its product's predictions.
  */
object StreamWorkload {
  val Products: Seq[String] = DataGen.EventTypes.toSeq
  val Buckets = 8
  val CandleSeconds = 300
  /** Event-time spacing: about six ticks per product per candle. */
  val EventStepSeconds = 10
  val BacklogEvents = 1500
  val BacklogBatch = 500
  /** Offered live rate, events/s: about half the catch-up rate measured
    * on a 4-core host (see README.md).
    */
  val LiveRate = 65.0
  /** Least share of `--seconds` the open-loop phase lasts. */
  val LiveShare = 0.6
  val WarmupEvents = 600
  val RedeliveredShare = 0.05
  val OutOfOrderShare = 0.05

  /** A ticker as emitted: `seq` is the emit order (the LWW sequence). */
  final case class Tick(seq: Long, product: String, timeUs: Long, price: Double)

  /** Seeded event history in emit order: out-of-order events are emitted
    * up to 40 places late, and redelivered events re-send the same
    * (product, time) with a corrected price up to 60 places later.
    */
  def generate(seed: Long, n: Int): IndexedSeq[Tick] = {
    val r = new java.util.SplittableRandom(seed)
    val t0 = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    val price = mutable.Map(Products.map(p => p -> (100.0 + 50 * Products.indexOf(p))): _*)
    val keyed = ArrayBuffer.empty[(Double, String, Long, Double)] // (emit key, product, time, price)
    for (i <- 0 until n) {
      val p = Products(r.nextInt(Products.size))
      price(p) = math.max(1.0, price(p) * (1 + DataGen.gaussian(r) * 0.002))
      val timeUs = t0 + i.toLong * EventStepSeconds * 1000000L + r.nextInt(1000000)
      val px = math.round(price(p) * 100) / 100.0
      val late = if (r.nextDouble() < OutOfOrderShare) 1 + r.nextInt(40) else 0
      keyed += ((i + late + 0.5 * r.nextDouble(), p, timeUs, px))
      if (r.nextDouble() < RedeliveredShare)
        keyed += ((i + 1 + r.nextInt(60) + r.nextDouble(), p, timeUs,
          math.round(px * (1 + 0.001 * (1 + r.nextInt(9))) * 100) / 100.0))
    }
    keyed.sortBy(_._1).take(n).zipWithIndex.map { case ((_, p, t, px), i) =>
      Tick(i.toLong, p, t, px)
    }.toIndexedSeq
  }

  private val Iso = DateTimeFormatter.ofPattern(StreamIngest.IsoMicros).withZone(ZoneOffset.UTC)

  def envelope(t: Tick): String = {
    val time = Iso.format(Instant.EPOCH.plusNanos(t.timeUs * 1000L))
    s"""{"channel":"ticker","timestamp":"$time","events":[{"type":"update","tickers":""" +
      s"""[{"type":"ticker","product_id":"${t.product}","price":"${t.price}",""" +
      s""""volume_24h":"1000.0","time":"$time"}]}]}"""
  }

  type Row3 = (String, Long, Long) // (json, __seq, __created µs)

  /** Per-batch chain timings, recorded on the stream thread. */
  final case class BatchTimes(id: Long, startNs: Long, lwwNs: Long, rollupNs: Long,
      candlesNs: Long, featuresNs: Long, forwardNs: Long, writeNs: Long,
      bucketsTouched: Int)

  final class Paths(root: String) {
    val lww = s"$root/lww"
    val rollup = s"$root/rollup"
    val predictions = s"$root/predictions"
    val byHorizon = s"$root/by_horizon"
    val checkpoint = s"$root/checkpoint"
  }

  /** Candles → features → forward pass over an LWW tick table. */
  def candles(ticks: DataFrame): DataFrame =
    StreamIngest.buildCandles(ticks, CandleSeconds, None)
      .withColumn("bucket_id", (unix_seconds(col("start_time")) / CandleSeconds).cast("long"))
      .withColumn("volume", col("n_ticks").cast("double"))
      .select("product_id", "start_time", "bucket_id", "open", "high", "low", "close", "volume")

  def features(c: DataFrame): DataFrame =
    FeatureFrame.enhance(c, "product_id", "start_time", "bucket_id")

  def predict(f: DataFrame): DataFrame =
    Serving.predictLatestWith(f, "product_id", "start_time", "bucket_id", "close",
      LstmForward.S, CandleSeconds, "lstm", LstmForward.forward)

  private def withBucketStart(df: DataFrame): DataFrame =
    df.withColumn("bucket_start",
      timestamp_seconds((unix_seconds(col("time")) / CandleSeconds).cast("long") * CandleSeconds))

  /** The foreachBatch body. */
  final class Chain(spark: SparkSession, paths: Paths, tracer: Option[Tracer]) {
    private val done = ArrayBuffer.empty[BatchTimes]
    /** Timings of the batches committed so far (read while the query runs). */
    def times: Seq[BatchTimes] = done.synchronized(done.toSeq)
    /** Batches that ran with the listener attached (a traced run attaches
      * it on every other batch; the rest are the overhead baseline).
      */
    val traced: mutable.Set[Long] = mutable.Set.empty[Long]

    def apply(batch: DataFrame, id: Long): Unit = {
      val tr = tracer.filter(_ => id % 2 == 1)
      tr.foreach { t => t.attach(); traced += id }
      try run(batch, id, tr.isDefined)
      finally tr.foreach { t => t.flush(); t.detach() }
    }

    /** A traced batch materializes candles, features and predictions one
      * at a time so each step's time can be read; an untraced batch lets
      * the prediction write pull them through in one plan.
      */
    private def run(batch: DataFrame, id: Long, steps: Boolean): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.GroupProp, s"b$id")
      def phase(p: String): Long = { sc.setLocalProperty(Tracer.PhaseProp, p); System.nanoTime() }
      def step(df: DataFrame): DataFrame =
        if (steps) { val d = df.persist(); d.count(); d } else df
      val t0 = phase("lww_upsert")
      StreamIngest.lwwUpsertPartitioned(paths.lww, Seq("product_id", "time"), "__seq",
        Buckets)(batch, id)
      val t1 = phase("rollup_upsert")
      StreamIngest.rollupUpsertPartitioned(paths.rollup, Seq("product_id", "bucket_start"),
        "price", Buckets)(withBucketStart(batch), id)
      val t2 = phase("candles")
      val c = step(candles(StreamIngest.readLwwState(spark, paths.lww)))
      val t3 = phase("features")
      val f = step(features(c))
      val t4 = phase("forward")
      val p = step(predict(f))
      val t5 = phase("prediction_write")
      Serving.dualWrite(p, s"${paths.predictions}/batch_id=$id", s"${paths.byHorizon}/batch_id=$id")
      val t6 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseProp, null)
      if (steps) Seq(p, f, c).foreach(_.unpersist(blocking = true))
      val touched = if (steps) bucketsWrittenSince(paths.lww, t0) else 0
      done.synchronized {
        done += BatchTimes(id, t0, t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5, touched)
      }
    }

    /** Bucket directories of the LWW state rewritten during this batch. */
    private def bucketsWrittenSince(root: String, startNs: Long): Int = {
      val sinceMs = System.currentTimeMillis() - (System.nanoTime() - startNs) / 1000000L
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(root)).count(s => s.isDirectory && s.getModificationTime >= sinceMs)
    }
  }

  /** Batch id → (end offset, progress) as reported by the query. */
  final class Progress extends StreamingQueryListener {
    private val batches = mutable.HashMap.empty[Long, (Long, Map[String, Long], Long)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        if (p.numInputRows > 0) {
          val end = p.sources.head.endOffset.trim.toLong
          val d = p.durationMs.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
            .map(x => x.getKey -> x.getValue.longValue).toMap
          batches(p.batchId) = (end, d, p.numInputRows)
        }
      }
    def get(id: Long): Option[(Long, Map[String, Long], Long)] = synchronized(batches.get(id))
  }

  /** A running query over a fresh MemoryStream and state directory. */
  final class Pipeline(spark: SparkSession, root: String, tracer: Option[Tracer]) {
    val paths = new Paths(root)
    val chain = new Chain(spark, paths, tracer)
    val progress = new Progress
    private val enc = Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong)
    val input: MemoryStream[Row3] = MemoryStream[Row3](spark, 1)(enc)
    spark.streams.addListener(progress)
    val query: StreamingQuery = StreamIngest
      .parseTickerEnvelopes(input.toDF().toDF("json", "__seq", "__created"), "json",
        keep = Seq("__seq", "__created"))
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => chain(b, id))
      .option("checkpointLocation", paths.checkpoint)
      .start()

    def add(ticks: Seq[Tick], createdUs: Int => Long): Long =
      input.addData(ticks.indices.map(i =>
        (envelope(ticks(i)), ticks(i).seq, createdUs(i)))).toString.toLong

    def stop(): Unit = {
      query.stop()
      spark.streams.removeListener(progress)
    }

    /** Waits until the listener has reported every committed batch. */
    def awaitProgress(): Unit = {
      val last = chain.times.lastOption.map(_.id).getOrElse(-1L)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (last >= 0 && progress.get(last).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
  }

  def run(cfg: Config): Report = {
    val (spark, rounds) = Session.setUp(cfg)
    val runRoot = s"${cfg.work}/stream-${cfg.seed}-${System.nanoTime()}"

    // Warm-up: the whole chain, untimed, on a throwaway state directory.
    val w0 = System.nanoTime()
    val warm = new Pipeline(spark, s"$runRoot/warmup", None)
    warm.add(generate(cfg.seed ^ 0x3a3aL, WarmupEvents), _ => 0L)
    warm.query.processAllAvailable()
    warm.stop()
    val setupS = Stats.median(rounds) + (System.nanoTime() - w0) / 1e9

    val liveEvents = (LiveRate * cfg.seconds).toInt
    val ticks = generate(cfg.seed, BacklogEvents + liveEvents)
    val created = new Array[Long](ticks.size)
    val tracer = new Tracer(spark.sparkContext)
    val pipe = new Pipeline(spark, s"$runRoot/run", Some(tracer).filter(_ => cfg.trace))
    val epochUs0 = System.currentTimeMillis() * 1000L
    val nanos0 = System.nanoTime()
    def epochUs(ns: Long) = epochUs0 + (ns - nanos0) / 1000L

    // Phase 1: the backlog, in fixed-size batches.
    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)
    val c0 = System.nanoTime()
    val catchupRates = ticks.take(BacklogEvents).grouped(BacklogBatch).map { chunk =>
      val b0 = System.nanoTime()
      val first = chunk.head.seq.toInt
      val now = epochUs(b0)
      pipe.add(chunk, i => { created(first + i) = now; now })
      pipe.query.processAllAvailable()
      chunk.size / ((System.nanoTime() - b0) / 1e9)
    }.toSeq
    val catchupS = (System.nanoTime() - c0) / 1e9
    val catchupBatches = pipe.chain.times.size

    // Phase 2: open loop for the rest of the run.
    val liveStart = System.nanoTime()
    val liveDeadline = liveStart + math.max(cfg.seconds - catchupS, cfg.seconds * LiveShare) * 1e9
    val live = ticks.drop(BacklogEvents)
    var loop: OpenLoop = null
    loop = new OpenLoop(LiveRate, live.size, SystemClock, (a, b) =>
      pipe.add(live.slice(a, b), i => {
        val us = epochUs(loop.due(a + i))
        created(BacklogEvents + a + i) = us
        us
      }))
    loop.run(() => System.nanoTime() >= liveDeadline)
    val emitted = loop.emitted
    val committedAtEnd = pipe.chain.times.size
    val d0 = System.nanoTime()
    pipe.query.processAllAvailable()
    pipe.awaitProgress()
    val drainS = (System.nanoTime() - d0) / 1e9
    Tracer.flush(spark.sparkContext, storage)
    spark.sparkContext.removeSparkListener(storage)
    pipe.stop()

    // Latency from due time to the commit of the covering batch.
    val commits = pipe.chain.times.drop(catchupBatches).flatMap { t =>
      pipe.progress.get(t.id).map(p => (p._1, t.startNs + wallNs(t)))
    }
    val latencies = Latency.fromDue(loop.chunks.toSeq, loop.due, commits)
    val e2p = latencies.flatten
    val uncommitted = latencies.count(_.isEmpty)
    val backlogEnd = {
      val doneOffset = pipe.chain.times.take(committedAtEnd).lastOption
        .flatMap(t => pipe.progress.get(t.id)).map(_._1).getOrElse(-1L)
      loop.chunks.filter(_.offset > doneOffset).map(c => c.end - c.first).sum
    }

    // Output checks, outside the timed window.
    val all = ticks.take(BacklogEvents + emitted)
    val k0 = System.nanoTime()
    val bad = check(spark, pipe.paths, all, created)
    val checkS = (System.nanoTime() - k0) / 1e9
    val attempted = all.size
    val failed = all.count(t => bad(t.product)) + uncommitted
    System.err.println(f"[perfbench] stream_predict: catch-up $BacklogEvents events in " +
      f"$catchupS%.2f s ($catchupBatches batches), live $emitted events, " +
      f"${pipe.chain.times.size - catchupBatches} batches, mismatched products: " +
      s"${bad.mkString(",")}, set-up ${rounds.map(s => f"$s%.2f").mkString(" ")} s + warm-up, " +
      f"drain $drainS%.1f s, checks $checkS%.1f s")

    val tailQ = Report.TailQuantile(cfg.workload)
    val tail = Stats.percentile(e2p, tailQ).getOrElse(sys.error(
      s"only ${e2p.size} live events: the p${(tailQ * 100).round} needs ${Stats.minSamples(tailQ)}"))
    val metrics =
      if (!cfg.trace) Seq(
        ("setup_s", setupS, "s"),
        ("latency_ms_p50", Stats.median(e2p), "ms"),
        ("latency_ms_tail", tail, "ms"),
        // the first batch starts from empty state
        ("throughput_per_s", Stats.median(catchupRates.drop(1)), "1/s"),
        ("peak_cached_mb", storage.peakMb, "MB"))
      else {
        tracer.spans ++= pipe.chain.times.flatMap { t =>
          val id = s"b${t.id}"
          val marks = Seq("lww_upsert" -> t.lwwNs, "rollup_upsert" -> t.rollupNs,
            "candles" -> t.candlesNs, "features" -> t.featuresNs, "forward" -> t.forwardNs,
            "prediction_write" -> t.writeNs).scanLeft(("", t.startNs, 0L)) {
              case ((_, s, d), (n, dn)) => (n, s + d, dn) }.drop(1)
          Span(id, "batch", "", t.startNs, marks.last._2 + marks.last._3) +:
            marks.map { case (n, s, d) => Span(id, n, "batch", s, s + d) }
        }
        tracer.write(s"${cfg.work}/trace-${cfg.workload}-${cfg.seed}.jsonl")
        layers(pipe, tracer, loop.lateMsMax, backlogEnd, spark)
      }
    val fs = new Path(runRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(runRoot), true)
    spark.stop()
    Report(failed == 0, attempted, failed, metrics)
  }

  private def wallNs(t: BatchTimes) =
    t.lwwNs + t.rollupNs + t.candlesNs + t.featuresNs + t.forwardNs + t.writeNs

  private def layers(pipe: Pipeline, tracer: Tracer, lateMax: Double, backlogEnd: Int,
      spark: SparkSession): Seq[(String, Double, String)] = {
    val times = pipe.chain.times
    val prog = times.flatMap(t => pipe.progress.get(t.id))
    def phase(k: String) = Stats.mean(prog.map(_._2.getOrElse(k, 0L).toDouble))
    def ms(f: BatchTimes => Long) = Stats.mean(times.map(f(_) / 1e6))
    val traced = times.filter(t => pipe.chain.traced(t.id))
    def stepMs(f: BatchTimes => Long) = Stats.mean(traced.map(f(_) / 1e6))
    // the first batch starts from empty state: not comparable
    val overhead = Layers.overhead(times.drop(1).map(t =>
      ("batch", pipe.chain.traced(t.id), wallNs(t) / 1e6)))
    val fs = new Path(pipe.paths.lww).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: String) = fs.getContentSummary(new Path(p)).getLength.toDouble
    Layers.report(Map(
      "stream.addBatch_ms" -> phase("addBatch"), "stream.getBatch_ms" -> phase("getBatch"),
      "stream.latestOffset_ms" -> phase("latestOffset"),
      "stream.queryPlanning_ms" -> phase("queryPlanning"),
      "stream.walCommit_ms" -> phase("walCommit"),
      "stream.triggerExecution_ms" -> phase("triggerExecution"),
      "stream.batches" -> times.size.toDouble,
      "stream.rows_per_batch" -> Stats.mean(prog.map(_._3.toDouble)),
      "lww_upsert_ms" -> ms(_.lwwNs), "rollup_upsert_ms" -> ms(_.rollupNs),
      "buckets_touched" -> Stats.mean(traced.map(_.bucketsTouched.toDouble)),
      "lww_state_bytes" -> bytes(pipe.paths.lww),
      "rollup_state_bytes" -> bytes(pipe.paths.rollup),
      "candles_ms" -> stepMs(_.candlesNs), "feature_ms" -> stepMs(_.featuresNs),
      "forward_ms" -> stepMs(_.forwardNs), "prediction_write_ms" -> stepMs(_.writeNs),
      "exec_ms" -> ms(wallNs),
      "span_coverage_ratio" -> Layers.coverage(tracer.spans.toSeq),
      "generator_late_ms_max" -> lateMax,
      "backlog_events_end" -> backlogEnd.toDouble,
      "trace_overhead_ms" -> overhead)
      ++ Layers.exec(traced.map(t => (s"b${t.id}", wallNs(t) / 1e6, wallNs(t) / 1e6)),
        tracer, spark.sparkContext.defaultParallelism,
        Set("lww_upsert", "rollup_upsert", "candles", "features", "forward", "prediction_write"),
        floor = false))
  }

  /** Products whose streamed output differs from the batch path over the
    * same emitted input: the final LWW state against a batch
    * last-writer-wins, the rollup state against a batch aggregate, and the
    * latest streamed predictions against `predictLatestWith` over
    * batch-built candles.
    */
  def check(spark: SparkSession, paths: Paths, ticks: Seq[Tick],
      created: Array[Long]): Set[String] = {
    import spark.implicits._
    val raw = ticks.map(t => (envelope(t), t.seq, created(t.seq.toInt)))
      .toDF("json", "__seq", "__created")
    val parsed = StreamIngest.parseTickerEnvelopes(raw, "json", keep = Seq("__seq", "__created"))
    val w = Window.partitionBy("product_id", "time").orderBy(col("__seq").desc)
    val lww = parsed.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
    val rollup = withBucketStart(parsed).groupBy("product_id", "bucket_start").agg(
      count(lit(1)).as("n"),
      sum((col("price").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"),
      min("price").as("mn"), max("price").as("mx"))
    val expectedPreds = predict(features(candles(lww)))
    val streamedPreds = {
      val all = spark.read.parquet(paths.predictions)
      val last = all.groupBy("product_id").agg(max("batch_id").as("batch_id"))
      all.join(last, Seq("product_id", "batch_id")).drop("batch_id")
    }
    def perProduct(df: DataFrame): Map[String, (Long, Long)] = {
      val cols = df.columns.sorted.map(c => s"`$c`").mkString(",")
      df.groupBy("product_id").agg(expr(s"bit_xor(xxhash64($cols))"), count(lit(1)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        .withDefaultValue((0L, 0L))
    }
    def same(a: DataFrame, b: DataFrame): Set[String] = {
      val (x, y) = (perProduct(a), perProduct(b.select(a.columns.map(col): _*)))
      Products.filter(p => x(p) != y(p)).toSet
    }
    same(StreamIngest.readLwwState(spark, paths.lww), lww) ++
      same(StreamIngest.readRollupState(spark, paths.rollup), rollup) ++
      same(streamedPreds, expectedPreds)
  }
}
