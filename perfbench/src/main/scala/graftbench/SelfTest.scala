package graftbench

import java.security.MessageDigest

/** Checks that need no Spark session: generator determinism, the tail
  * rule, and the catalogue of metric names and units each run mode prints
  * (the launcher compares the catalogue with BENCHMARK.json). Exits with
  * status 1 on the first failed check.
  */
object SelfTest {
  private def check(what: String, ok: Boolean): Unit = {
    println(s"self-test ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  /** Digest of a sample of every input stream the workloads draw from. */
  def inputDigest(seed: Long): String = {
    val g = new Gen(seed)
    val sb = new StringBuilder
    (0L until 3L).foreach(d => g.dayEvents(d, 2000).foreach { case (t, u) => sb ++= s"$t,$u;" })
    (0L until 50L).foreach(i => sb ++= g.request(i).mkString("r", ",", ";"))
    (0L until 200L).foreach { i => val (id, text, v) = g.doc(i); sb ++= s"$id|$text|${v.mkString(",")};" }
    (0L until 5L).foreach(i => g.bm25Queries(i, 8).foreach { case (q, t) => sb ++= s"$q:$t;" })
    (0L until 5L).foreach(i => sb ++= g.annQuery(i).mkString("a", ",", ";"))
    MessageDigest.getInstance("SHA-256").digest(sb.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def run(): Unit = {
    val d1 = inputDigest(7L)
    check("same seed gives byte-identical inputs", d1 == inputDigest(7L))
    check("different seed gives different inputs", d1 != inputDigest(8L))

    val hundred = (1 to 100).map(_.toDouble).reverse
    check("tail of 100 samples is the 90th (10 beyond)",
      Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 10, 100))
    check("tail of 11 samples is the smallest (10 beyond)",
      Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(1.0, 100.0 / 11, 10, 11))
    check("tail of 10 samples has none beyond and is the maximum",
      Stats.tail((1 to 10).map(_.toDouble)).beyond == 0 && Stats.tail((1 to 10).map(_.toDouble)).value == 10.0)
    check("tail of 25 samples is the 15th", Stats.tail((1 to 25).map(_.toDouble).reverse).value == 15.0)
    check("median interpolates", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // metric catalogue: every run mode's names and units, from a synthetic outcome
    val kinds = Seq("batch_commit", "online_visible", "get", "point_get", "index_append", "index_maintain",
      "bm25_search", "ann_search")
    val ops = for (k <- kinds; i <- 1 to 12) yield Op(k, 10.0 + i, 3, ok = true)
    Main.Workloads.foreach { w =>
      val ctx = new Ctx(null, new Gen(1L), new Trace(true), "", 1)
      val r = new Report(w.name, Outcome(ops, Seq(1.0), Map("ann_recall_at_10" -> 1.0)), 2.0, ctx)
      r.endToEnd.foreach(m => println(s"catalog 0 ${w.name} ${m.name} ${m.unit}"))
      r.perLayer.foreach(m => println(s"catalog 1 ${w.name} ${m.name} ${m.unit}"))
    }
    println("self-test passed")
  }
}
