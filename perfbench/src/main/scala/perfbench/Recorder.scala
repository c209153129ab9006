package perfbench

/** Records the committed output fingerprints: every query of the `queries`
  * workload runs in two fresh sessions, in two different orders, and
  * must give the same fingerprint both times.
  *
  *   java ... perfbench.Main --mode record --work W --data D --fingerprints F
  */
object Recorder {
  def record(cfg: Config): Unit = {
    val names = QueryWorkload.Queries.sorted
    val base = Session.build(cfg)
    val runs = Seq(names, names.reverse).zipWithIndex.map { case (order, i) =>
      val s = base.newSession()
      order.map { q =>
        val o = QueryWorkload.request(s, cfg.data, q, s"rec$i-$q", None)
        System.err.println(f"[record] $q%-36s ${o.wallMs}%9.1f ms ${o.fingerprint} ${o.error}")
        q -> o
      }.toMap
    }
    base.stop()
    val bad = names.filter(q => !runs(0)(q).ok || !runs(1)(q).ok ||
      runs(0)(q).fingerprint != runs(1)(q).fingerprint)
    require(bad.isEmpty, s"failing or unstable outputs: ${bad.mkString(", ")}")
    val w = new java.io.PrintWriter(cfg.fingerprints, "UTF-8")
    try {
      w.println("# query  bit_xor(xxhash64(all columns))  row_count")
      names.foreach { q =>
        val (x, c) = runs(0)(q).fingerprint
        w.println(s"$q $x $c")
      }
    } finally w.close()
  }
}
