package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 build-stage memos (TiledScan layout/Prep, quality-filter
  * fit): repeat executions inside one CacheScope are byte-identical to
  * the first, the memo tier grows while the scope is live and is FULLY
  * evicted by [[CacheScope.release]] (the ChurnProbe boundedness
  * invariant), and a rebuilt entry after release still reproduces the
  * same results — eviction is a recompute, never a wrong answer. Also
  * pins the [[Memos]] eviction rule itself: the counters, and a release
  * that lands during a build.
  */
class OpMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Seq[String] = {
    val fn = SparkEntry.queries(name)
    fn(spark, dir).collect().map(_.toString).toSeq
  }

  test("ordered-scan family: memoized repeat + post-release rebuild are identical") {
    CacheScope.release(spark)
    val base = Memos.totalEntries
    val a1 = run("q_w4_rolling_zscore")
    val entriesLive = Memos.totalEntries
    assert(entriesLive > base, "a TiledScan prepare must populate the memo tier")
    val a2 = run("q_w4_rolling_zscore") // memo hit (bench min-of-2 path)
    assert(a1 === a2)
    // a second family member tiling the SAME frame/order shares the layout
    // entry: the ranged-frame memo must not grow by another layout
    val b1 = run("q_w2_ma_ratio")
    CacheScope.release(spark)
    assert(Memos.totalEntries === base,
      "release must evict every TiledScan memo entry")
    val a3 = run("q_w4_rolling_zscore") // rebuild after eviction
    assert(a1 === a3, "post-release rebuild must reproduce the results")
    val b2 = run("q_w2_ma_ratio")
    assert(b1 === b2)
    CacheScope.release(spark)
  }

  test("quality-filter fit memo: one fit serves fit/apply/calibration, release evicts") {
    CacheScope.release(spark)
    val base = Memos.totalEntries
    val fit1 = run("q_t_quality_filter_fit")
    val apply1 = run("q_t_quality_filter_apply")
    val cal1 = run("q_t_quality_filter_calibration")
    assert(Memos.totalEntries > base)
    CacheScope.release(spark)
    assert(Memos.totalEntries === base,
      "release must evict the qf fit memo")
    // rebuilt fit (apply first — any consumer may arrive first) matches
    val apply2 = run("q_t_quality_filter_apply")
    val fit2 = run("q_t_quality_filter_fit")
    val cal2 = run("q_t_quality_filter_calibration")
    assert(fit1 === fit2)
    assert(apply1 === apply2)
    assert(cal1 === cal2)
    CacheScope.release(spark)
  }

  test("memo counters: a repeat in scope hits, release evicts to base") {
    CacheScope.release(spark)
    val base = Memos.totalEntries
    def finals = Memos.stats("indicator.finals")
    run("q_w7_rsi_final")
    val afterFirst = finals
    assert(afterFirst.entries === 1)
    run("q_w8_macd_final") // the trio shares one finals build
    assert(finals.hits === afterFirst.hits + 1)
    assert(finals.misses === afterFirst.misses)
    CacheScope.release(spark)
    assert(finals.evictions === afterFirst.evictions + 1)
    assert(finals.entries === 0)
    assert(Memos.totalEntries === base)
  }

  test("a build that releases its own session mid-build leaves no entry") {
    CacheScope.release(spark)
    val base = Memos.totalEntries
    val evictions = OpMemoSpec.memo.stats.evictions
    val v = OpMemoSpec.memo(spark, "k") { CacheScope.release(spark); 42 }
    assert(v === 42, "the caller still gets the built value")
    assert(OpMemoSpec.memo.stats.entries === 0)
    assert(OpMemoSpec.memo.stats.evictions === evictions + 1)
    assert(Memos.totalEntries === base)
    // the next call in the new scope builds and keeps its entry
    assert(OpMemoSpec.memo(spark, "k")(7) === 7)
    assert(OpMemoSpec.memo.stats.entries === 1)
    CacheScope.release(spark)
    assert(OpMemoSpec.memo.stats.entries === 0)
  }
}

object OpMemoSpec {
  private val memo = Memos.scoped[String, Int]("test.opMemo")
}
