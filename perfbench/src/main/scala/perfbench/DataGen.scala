package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Single-threaded generator of the ten tables the query surface reads,
  * with the schemas and value domains of the engine's testdata (TPC-H-ish
  * star schema + `events`, `documents`, `embeddings`) at a fixed small
  * scale. The data seed is a constant, so the committed per-query output
  * fingerprints apply to every run; the workload seed only changes request
  * order and the stream's inputs.
  */
object DataGen {
  val DataSeed = 42L

  val Customers = 150
  val Suppliers = 10
  val Parts = 200
  val Orders = 1500
  val LineItems = 6000
  val Events = 1000
  val Users = 15
  val Documents = 500
  val Embeddings = 500
  val EmbedDim = 64

  val EventTypes: Array[String] = Array("click", "view", "signup", "purchase", "error")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Array("blue", "cold", "hot", "large", "small", "old", "new", "red")
  private val Nouns = Array("anvil", "widget", "bolt", "rod", "ring", "gear", "spring", "valve")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val Words = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table " +
    "the value vector window").split(" ")

  private def rng(salt: Long) = new java.util.SplittableRandom(DataSeed * 1000003L + salt)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0
  private def day(d: LocalDate): Timestamp =
    Timestamp.from(d.atStartOfDay().toInstant(ZoneOffset.UTC))

  /** Writes every table as `<dir>/<name>.parquet`. */
  def writeAll(spark: SparkSession, dir: String): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng(1)
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        cents(rc.nextDouble(-999.99, 9999.99)), Segments(rc.nextInt(Segments.length)))))

    val rs = rng(2)
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        cents(rs.nextDouble(-999.99, 9999.99)))))

    val rp = rng(3)
    val retail = Array.tabulate(Parts)(i => cents(900.0 + (i % 200) * 0.1))
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until Parts).map(i => Row(i.toLong,
        Adjectives(rp.nextInt(Adjectives.length)) + " " + Nouns(rp.nextInt(Nouns.length)),
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.length)),
        1 + rp.nextInt(50), retail(i))))

    val ro = rng(4)
    val epochStart = LocalDate.of(1995, 1, 1)
    val orderDays = 2403 // 1995-01-01 .. 2001-08-01
    val orderDate = Array.fill(Orders)(ro.nextInt(orderDays))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until Orders).map(i => Row(i.toLong, ro.nextInt(Customers).toLong,
        "FOP".charAt(ro.nextInt(3)).toString, cents(ro.nextDouble(1000.0, 500000.0)),
        day(epochStart.plusDays(orderDate(i))), Priorities(ro.nextInt(Priorities.length)))))

    val rl = rng(5)
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until LineItems).map { _ =>
        val o = rl.nextInt(Orders)
        val p = rl.nextInt(Parts)
        val q = 1 + rl.nextInt(50)
        Row(o.toLong, p.toLong, rl.nextInt(Suppliers).toLong, 1 + rl.nextInt(7), q.toDouble,
          cents(q * retail(p) * rl.nextDouble(1.0, 2.3)), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, "ANR".charAt(rl.nextInt(3)).toString,
          "FO".charAt(rl.nextInt(2)).toString,
          day(epochStart.plusDays(orderDate(o) + 1 + rl.nextInt(120))))
      })

    val re = rng(6)
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC) * 1000000L
    val evSpan = 30L * 86400L * 1000000L
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until Events).map { i =>
        val micros = evStart + ((i + re.nextDouble()) * evSpan / Events).toLong
        Row(i.toLong, micro(micros), re.nextInt(Users).toLong,
          EventTypes(re.nextInt(EventTypes.length)),
          cents(0.01 - 50.0 * math.log(1.0 - re.nextDouble())),
          s"""{"k": ${re.nextInt(100)}}""")
      })

    // Documents: random word sequences; every seventh is a near-duplicate
    // of an earlier document (a few words replaced), so the dedup and
    // decontamination families have pairs to find.
    val rd = rng(7)
    val texts = new Array[String](Documents)
    (0 until Documents).foreach { i =>
      texts(i) =
        if (i > 10 && i % 7 == 0) {
          val base = texts(rd.nextInt(i)).split(" ")
          (0 until 1 + rd.nextInt(3)).foreach(_ => base(rd.nextInt(base.length)) = Words(rd.nextInt(Words.length)))
          base.mkString(" ")
        } else Seq.fill(10 + rd.nextInt(90))(Words(rd.nextInt(Words.length))).mkString(" ")
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until Documents).map(i => Row(i.toLong, texts(i), Langs(rd.nextInt(Langs.length)),
        s"src${i % 20}", texts(i).length.toLong)))

    // Embeddings: unit vectors around ten weak label centroids.
    val rv = rng(8)
    val centroids = Array.fill(10, EmbedDim)(rv.nextDouble(-0.15, 0.15))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(EmbedDim)(j => centroids(label)(j) + gaussian(rv) * 0.12)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  def micro(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def gaussian(r: java.util.SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
