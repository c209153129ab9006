package perfbench

import java.util.concurrent.LinkedBlockingQueue
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Self-tests for the harness: percentile rule, open-loop latency
  * accounting, generator lateness, the per-job floor fit, and the metric
  * list the report and BENCHMARK.json share.
  */
class HarnessSpec extends AnyFunSuite {

  final class FakeClock extends Clock {
    var now = 0L
    def nanos(): Long = now
    def sleepUntil(deadline: Long): Unit = if (deadline > now) now = deadline
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 0.75).contains(30.0))
    assert(Stats.percentile(xs.take(39), 0.75).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.90).contains(90.0))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.90).isEmpty)
    assert(Stats.minSamples(0.5) == 20)
    assert(Stats.minSamples(0.75) == 40)
    assert(Stats.minSamples(0.99) == 1000)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("generator lateness is reported when a hand-off blocks") {
    val clock = new FakeClock
    var calls = 0
    val loop = new OpenLoop(100.0, 10, clock, (_, _) => {
      calls += 1
      if (calls == 3) clock.now += 50L * 1000000L // the consumer holds the source
      calls.toLong
    })
    loop.run()
    assert(loop.emitted == 10)
    // event 3 was due at 30 ms and handed over at 70 ms, with 4..7
    assert(loop.lateMsMax == 40.0)
    assert(loop.chunks.map(c => (c.first, c.end)) ==
      Seq((0, 1), (1, 2), (2, 3), (3, 8), (8, 9), (9, 10)))

    val idle = new FakeClock
    val smooth = new OpenLoop(100.0, 10, idle, (a, _) => a.toLong)
    smooth.run()
    assert(smooth.lateMsMax == 0.0)
  }

  test("open-loop latency charges a consumer stall to the events queued behind it") {
    val queue = new LinkedBlockingQueue[Chunk]()
    var offset = 0L
    val loop = new OpenLoop(200.0, 100, SystemClock, (a, b) => {
      offset += 1
      queue.put(Chunk(offset, a, b, System.nanoTime()))
      offset
    })
    val commits = ArrayBuffer.empty[(Long, Long)]
    val taken = new Array[Long](100) // when the consumer took each event
    val stallNs = 300L * 1000000L
    var stall = (0L, 0L)
    val consumer = new Thread(() => {
      var seen = 0
      var batch = 0
      while (seen < 100) {
        val chunks = ArrayBuffer(queue.take())
        var c = queue.poll()
        while (c != null) { chunks += c; c = queue.poll() }
        val t = System.nanoTime()
        chunks.foreach(k => (k.first until k.end).foreach(taken(_) = t))
        batch += 1
        if (batch == 3) {
          val s0 = System.nanoTime()
          Thread.sleep(stallNs / 1000000L)
          stall = (s0, System.nanoTime())
        } else Thread.sleep(5)
        commits += ((chunks.last.offset, System.nanoTime()))
        seen = chunks.last.end
      }
    })
    consumer.start()
    loop.run()
    consumer.join()

    val lat = Latency.fromDue(loop.chunks.toSeq, loop.due, commits.toSeq)
    assert(lat.forall(_.isDefined))
    val (s0, s1) = stall
    val behind = (0 until 100).filter(i => loop.due(i) >= s0 && loop.due(i) < s1 - 50L * 1000000L)
    assert(behind.size >= 20, s"only ${behind.size} events were due during the stall")
    behind.foreach { i =>
      // waited at least until the stall ended, counted from the due time
      assert(lat(i).get >= (s1 - loop.due(i)) / 1e6)
    }
    // Counting from when the consumer took an event hides the stall for
    // the events that queued during it.
    val commitOf = (i: Int) => commits.find(_._1 >= loop.chunks.find(_.end > i).get.offset).get._2
    val hidden = behind.map(i => lat(i).get - (commitOf(i) - taken(i)) / 1e6)
    assert(hidden.max > 200.0)
  }

  test("the floor fit recovers per-request and per-job costs") {
    val r = new scala.util.Random(1)
    val rows = (1 to 60).map { _ =>
      val jobs = 1 + r.nextInt(12)
      (71.0 + 29.0 * jobs, jobs.toDouble)
    }
    val f = FloorFit.fit(rows)
    assert(math.abs(f.perRequestMs - 71.0) < 1e-6)
    assert(math.abs(f.perJobMs - 29.0) < 1e-6)
    assert(FloorFit.fit(Seq((1.0, 2.0), (3.0, 2.0))).perJobMs.isNaN)
  }

  test("a job's overhead is its wall time minus its tasks' critical path") {
    // Stage 1: four 40 ms tasks and one 50 ms task on 4 cores take at
    // least 210 / 4 = 52.5 ms; stage 2: one 10 ms task takes 10 ms.
    val j = JobTiming("exec", 1000L, 1100L, Seq((210L, 50L), (10L, 10L)))
    assert(j.computeMs(4) == 62.5)
    assert(j.overheadMs(4) == 37.5)
    // A single long task bounds a stage from below, whatever the cores.
    assert(JobTiming("exec", 0L, 100L, Seq((80L, 80L))).overheadMs(4) == 20.0)
    // A skipped stage ran no tasks and costs nothing.
    assert(JobTiming("exec", 0L, 5L, Seq((0L, 0L))).overheadMs(4) == 5.0)
    // Overlapping jobs cover their union once.
    val jobs = Seq(JobTiming("exec", 10L, 30L, Nil), JobTiming("exec", 20L, 40L, Nil),
      JobTiming("exec", 50L, 60L, Nil))
    assert(JobTiming.coveredMs(jobs) == 40.0)
  }

  test("the query list is each pack's representative in the committed survey") {
    val rows = Survey.load("query_survey.tsv")
    val chosen = QueryWorkload.PackNames.map(p => Survey.choose(rows.filter(_.pack == p)).query)
    assert(chosen == QueryWorkload.Reference ++ QueryWorkload.Curation)
    assert(QueryWorkload.Targets.forall(q => rows.exists(_.query == q)))
  }

  test("the report line has exactly the result keys") {
    val line = Report(correct = true, 3, 0, Seq(("latency_ms_p50", 1.5, "ms"))).json
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, """ +
      """"metrics": {"latency_ms_p50": {"value": 1.5, "unit": "ms"}}}""")
    assert(Layers.report(Map("gc_ms" -> 2.0)).map(_._1) == Layers.Metrics.map(_._1))
  }

  test("BENCHMARK.json declares the metrics the benchmark prints") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val json = try src.mkString finally src.close()
    def names(section: String): Seq[(String, String)] = {
      val body = json.drop(json.indexOf(s""""$section""""))
      val block = body.take(body.indexOf("]"))
      """\{"name": "([^"]+)", "unit": "([^"]+)"""".r.findAllMatchIn(block)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(names("per_layer") == Layers.Metrics)
    assert(names("end_to_end").map(_._1) == Seq("setup_s", "latency_ms_p50",
      "latency_ms_tail", "throughput_per_s", "peak_cached_mb"))
  }
}
