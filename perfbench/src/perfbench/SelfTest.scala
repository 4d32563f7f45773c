package perfbench

import scala.collection.mutable

/** Self-tests of the generator and the output checks (no Spark):
  *   python3 perfbench/run.py --selftest
  * Exits 1 on the first failed check. */
object SelfTest {
  private def check(what: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) sys.exit(1)
  }

  private def state(seed: Long, n: Int): mutable.Map[Long, KeyRow] = {
    val g = new Gen(seed, 2000, Gen.ZipfS, Gen.InsertShare, Gen.DeleteShare)
    val m = mutable.Map[Long, KeyRow]()
    Gen.fold(m, g.next(n), dropDeletes = true)
    m
  }

  def run(): Unit = {
    val a = Gen.digest(Gen.syncView(state(7, 20000)))
    check("same seed gives the same expected-state digest")(
      a == Gen.digest(Gen.syncView(state(7, 20000))))
    check("another seed gives another digest")(a != Gen.digest(Gen.syncView(state(8, 20000))))

    // the sampler at the workloads' exponent (Gen.ZipfS, measured) and at
    // a skewed one; few keys, so every rank's share is well sampled
    val keys = 200
    val n = 200000
    Seq(Gen.ZipfS, 0.99).foreach { s =>
      val g = new Gen(11, keys, s, Gen.InsertShare, Gen.DeleteShare)
      val cs = g.next(n)
      val h = (1 to keys).map(r => 1.0 / math.pow(r, s)).sum
      val byRank = cs.groupBy(c => g.rankOf(c.userId)).view.mapValues(_.size.toDouble / n)
      Seq(0, 1, 9, keys - 1).foreach { r =>
        val want = 1.0 / math.pow(r + 1.0, s) / h
        val got = byRank.getOrElse(r, 0.0)
        check(f"Zipf($s) share of rank $r: $got%.5f vs $want%.5f (within 10%%)")(
          math.abs(got - want) <= 0.1 * want)
      }
      val top20 = (0 until 20).map(r => byRank.getOrElse(r, 0.0)).sum
      val want20 = (1 to 20).map(r => 1.0 / math.pow(r, s)).sum / h
      check(f"Zipf($s) share of the top 20 ranks: $top20%.4f vs $want20%.4f (within 3%%)")(
        math.abs(top20 - want20) <= 0.03 * want20)
    }
    val cs = new Gen(11, SyncApply.Keys, Gen.ZipfS, Gen.InsertShare, Gen.DeleteShare).next(n)
    def share(op: String) = cs.count(_.op == op).toDouble / cs.size
    check(f"op shares I=${share("I")}%.4f D=${share("D")}%.4f U=${share("U")}%.4f")(
      math.abs(share("I") - Gen.InsertShare) < 0.005 && math.abs(share("D") - Gen.DeleteShare) < 0.005)

    check("event_id is monotone in ts")(
      cs.sliding(2).forall { case Seq(x, y) => y.eventId > x.eventId && y.tsMicros > x.tsMicros })
    check("ems never ties across event_ids")(cs.sliding(2).forall { case Seq(x, y) => y.ems > x.ems })

    val want = Gen.syncView(state(7, 20000))
    check("an intact read-back passes")(Gen.diff(want, want).isEmpty)
    val bad = SyncApply.corruptOne(want)
    check("a corrupted read-back is caught")(bad != want && Gen.diff(want, bad).size == 1)
    check("a read-back missing a key is caught")(want.removed(want.keys.head) != want)

    val cycle = new Gen(3, 500, Gen.ZipfS, Gen.InsertShare, Gen.DeleteShare).next(2000)
    check("expected acks cover every change")(
      SyncApply.expectedAcks(cycle).toSeq.map(_._3).sum == cycle.size)
    check("expected /status/sync counts every change")(
      """"(pending|blocked|error|success)":(\d+)""".r.findAllMatchIn(SyncApply.expectedStatus(cycle))
        .map(_.group(2).toInt).sum == cycle.size)
    println("selftest passed")
  }
}
