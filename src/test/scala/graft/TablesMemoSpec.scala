package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 Tables plan memo: reuse is identity-level (the 70–90 ms
  * frame assembly runs once), invalidation is by path mtime (in-place
  * rewrites mint a new plan — the BucketedLayout/sizeCache discipline),
  * the embeddings entry keys on the configured dim (the scan filter is
  * baked into the plan), and the LRU stays bounded so session churn
  * cannot grow it. The memo holds LAZY plans only — nothing is persisted,
  * every action recomputes from parquet (asserted via fresh reads after
  * an in-place rewrite).
  */
class TablesMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session

  test("repeat load returns the memoized frame; rewrite invalidates and rereads") {
    val dir = java.nio.file.Files.createTempDirectory("tmemo").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "orders.parquet").getAbsolutePath
    spark.range(5).selectExpr("id AS o_orderkey").write.parquet(p)
    val a = Tables(spark, dir.getAbsolutePath, "orders")
    val b = Tables(spark, dir.getAbsolutePath, "orders")
    assert(a eq b, "second load must return the memoized plan")
    assert(a.count() === 5)

    // in-place rewrite with a LATER mtime: the memo must miss and the new
    // frame must read the new data (lazy plans, nothing persisted)
    Thread.sleep(1100) // mtime granularity on some filesystems is 1 s
    val tmp = new java.io.File(dir, "orders2.parquet").getAbsolutePath
    spark.range(9).selectExpr("id AS o_orderkey").write.parquet(tmp)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(p)).deleteRecursively()
    assert(new java.io.File(tmp).renameTo(new java.io.File(p)))
    // force a fresh mtime in case rename preserved the old one
    new java.io.File(p).setLastModified(System.currentTimeMillis())
    val c = Tables(spark, dir.getAbsolutePath, "orders")
    assert(!(c eq a), "rewritten path must mint a new plan")
    assert(c.count() === 9)
  }

  test("embeddings memo keys on the configured dim") {
    val dir = "/root/testdata/sf0.001"
    val d64 = Tables(spark, dir, "embeddings")
    spark.conf.set("graft.embedding.dim", "64")
    val d64b = Tables(spark, dir, "embeddings")
    assert(d64 eq d64b, "same dim must hit the memo")
    spark.conf.set("graft.embedding.dim", "32")
    try {
      val d32 =
        try Some(Tables(spark, dir, "embeddings"))
        catch { case _: IllegalStateException => None } // dim guard may fire
      d32.foreach(f => assert(!(f eq d64), "different dim must miss"))
    } finally spark.conf.unset("graft.embedding.dim")
  }

  test("memo is bounded: heavy churn cannot grow it past the cap") {
    val dir = java.nio.file.Files.createTempDirectory("tmemo_cap").toFile
    dir.deleteOnExit()
    (0 until 70).foreach { i =>
      val p = new java.io.File(dir, s"t$i").getAbsolutePath
      spark.range(1).selectExpr("id AS o_orderkey")
        .write.parquet(s"$p/orders.parquet")
      Tables(spark, p, "orders")
    }
    assert(Tables.planMemoSize <= 64,
      s"plan memo must stay bounded, got ${Tables.planMemoSize}")
  }

  test("view registration: a repeat is a no-op; a new dir, spread conf, " +
    "dropped view or rewritten table re-registers") {
    val s = spark.newSession()
    // a minimal ten-table corpus: the columns Tables.apply inspects
    def corpus(): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory("tviews").toFile
      d.deleteOnExit()
      Tables.all.foreach { n =>
        val cols = n match {
          case "events" => Seq("id AS event_id", "timestamp'2024-01-01' AS ts")
          case "embeddings" => Seq("id AS vec_id",
            "array_repeat(CAST(1.0 AS FLOAT), 64) AS embedding")
          case _ => Seq("id")
        }
        s.range(2).selectExpr(cols: _*).write.parquet(s"$d/$n.parquet")
      }
      d
    }
    val dir = corpus()
    val sf = dir.getAbsolutePath
    // sentinels installed over a registered view and native function:
    // re-registration replaces them, a no-op leaves them in place
    def plant(): Unit = {
      s.range(1).toDF("sentinel").createOrReplaceTempView("region")
      s.udf.register("cosine_sim", (_: Seq[Double], _: Seq[Double]) => -42.0)
    }
    def planted: Boolean =
      s.table("region").columns.toSeq == Seq("sentinel") &&
        s.sql("SELECT cosine_sim(array(1d), array(1d))").head().getDouble(0) == -42.0
    def reRegisters(change: => Unit): Boolean = {
      plant(); change; !planted
    }

    Tables.ensureRegistered(s, sf)
    assert(!reRegisters(Tables.ensureRegistered(s, sf)),
      "a second ensureRegistered must not re-register")
    assert(reRegisters(Tables.ensureRegistered(s, corpus().getAbsolutePath)),
      "a new sfDir must re-register")
    assert(reRegisters(Tables.ensureRegistered(s, sf)))
    s.conf.set("spark.graft.spread.chunkBytes", "65536")
    try assert(reRegisters(Tables.ensureRegistered(s, sf)),
      "a new spread conf must re-register")
    finally s.conf.unset("spark.graft.spread.chunkBytes")
    assert(reRegisters(Tables.ensureRegistered(s, sf)))
    assert(reRegisters {
      s.catalog.dropTempView("lineitem")
      Tables.ensureRegistered(s, sf)
    }, "a dropped view must re-register")
    assert(s.table("lineitem").count() > 0)

    // in-place rewrite (the plan-memo pattern above): views must not go stale
    val p = new java.io.File(dir, "region.parquet")
    val before = s.table("region").count()
    Thread.sleep(1100)
    val tmp = new java.io.File(dir, "region2.parquet").getAbsolutePath
    s.range(before + 3).write.parquet(tmp)
    new scala.reflect.io.Directory(p).deleteRecursively()
    assert(new java.io.File(tmp).renameTo(p))
    p.setLastModified(System.currentTimeMillis())
    Tables.ensureRegistered(s, sf)
    assert(s.table("region").count() === before + 3,
      "a rewritten table must re-register its view")
  }
}
