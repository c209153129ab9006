package graft.ops

import graft.{CacheScope, SparkSpec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ordered-scan memo key keeps key and order columns apart: two calls
  * that sort identically but group differently must not share a Prep, or
  * the second consumer runs with the first one's key indices (key runs
  * not resetting at boundaries — wrong window values).
  */
class TiledScanKeySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  test("keys=[a] order=[b] and keys=[a,b] order=[] get distinct Preps " +
    "that both match the window reference") {
    CacheScope.release(spark)
    val df = (0 until 200).map(i => (i % 3, i / 3 % 5, i.toDouble))
      .toDF("a", "b", "v")
    try {
      val p1 = TiledScan.prepare(df, Seq("a"), Seq(col("b")), Seq("v"), 1, 4)
      val p2 = TiledScan.prepare(df, Seq("a", "b"), Seq.empty, Seq("v"), 1, 4)
      assert(!(p1 eq p2))
      assert(p1.keyIdx === Seq(0))
      assert(p2.keyIdx === Seq(0, 1))

      def check(keys: Seq[String], order: Seq[String]): Unit = {
        val orderCols = order.map(col)
        // (a, b) repeats: order on v too so the lag is deterministic
        val got = OrderedLag.withLags(df, keys, orderCols :+ col("v"), "v",
          Seq("l1" -> 1), Some(4)).orderBy("v").collect().toSeq
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(orderCols :+ col("v"): _*)
        val want = df.withColumn("l1", lag(col("v"), 1).over(w))
          .orderBy("v").collect().toSeq
        assert(got === want, s"keys=$keys order=$order")
      }
      check(Seq("a"), Seq("b"))
      check(Seq("a", "b"), Seq.empty)
    } finally CacheScope.release(spark)
  }
}
