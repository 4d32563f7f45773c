package perfbench

import scala.collection.mutable

/** Seeded change generator for the sync and stream workloads, plus the
  * independent expected state: the per-key last-writer-wins result
  * computed in plain Scala, without Spark.
  *
  * Keys are Zipf-skewed over `keys` ids (rank r maps to a seeded
  * permutation of 0 until keys, so hot keys are spread over the sync
  * partitions). Event types follow the repo's op mapping
  * (`ChangeLog.opCol`: signup -> I, error -> D, the rest -> U).
  * `event_id` is a global counter and `ts` strictly increases with it,
  * so the LWW order (ems, event_id) is the generation order.
  */
final case class Change(eventId: Long, userId: Long, eventType: String,
                        cents: Long, k: Long, tsMicros: Long) {
  def op: String = Gen.opOf(eventType)
  def ems: Long = Math.floorDiv(tsMicros, 1000L)
  def epochS: Long = Math.floorDiv(tsMicros, 1000000L)
}

/** One row of the sync target / stream state: the latest change of a key. */
final case class KeyRow(eventId: Long, op: String, epochS: Long, ems: Long,
                        cents: Long)

final class Gen(seed: Long, val keys: Int, val zipfS: Double,
                val insertShare: Double, val deleteShare: Double) {
  private val rnd = new java.util.Random(seed)
  private val perm: Array[Long] = {
    val a = Array.tabulate(keys)(_.toLong)
    var i = keys - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  private var nextId = 0L

  /** Zipf rank of a key id (0 = hottest); used by the self-test. */
  def rankOf(key: Long): Int = perm.indexOf(key)

  private def zipfRank(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, keys - 1)
  }

  /** The next `n` changes, continuing the event_id / ts sequence. */
  def next(n: Int): Vector[Change] = Vector.fill(n) {
    val id = nextId
    nextId += 1
    val u = rnd.nextDouble()
    val et =
      if (u < insertShare) "signup"
      else if (u < insertShare + deleteShare) "error"
      else Gen.UpdateTypes(rnd.nextInt(Gen.UpdateTypes.length))
    // 7 ms per event_id plus < 7 ms of jitter: ts strictly increases
    // with event_id, and ems never ties across ids
    Change(id, perm(zipfRank()), et, rnd.nextInt(100000).toLong,
      rnd.nextInt(100).toLong, Gen.BaseMicros + id * 7000L + rnd.nextInt(7000))
  }
}

object Gen {
  val UpdateTypes: Vector[String] = Vector("click", "view", "purchase")

  /** Traffic shape of the sync and stream workloads, measured on the
    * sf0.01 test data's events.parquet (perfbench/README.md, "Traffic"):
    * signup 20.2 %, error 20.1 %, click/view/purchase 19.8-20.1 % each,
    * and user_id spread evenly over its ids (chi-square 158.7 on 149
    * degrees of freedom), so the fitted Zipf exponent is 0. */
  val InsertShare = 0.20
  val DeleteShare = 0.20
  val ZipfS = 0.0
  /** 2024-01-01T00:00:00Z in microseconds. */
  val BaseMicros: Long = 1704067200L * 1000000L

  def opOf(eventType: String): String = eventType match {
    case "signup" => "I"
    case "error"  => "D"
    case _        => "U"
  }

  /** Row a key holds before any change: set-up pre-loads the sync
    * target with one for every key, older than every generated change. */
  def preloadRow(key: Long): KeyRow =
    KeyRow(-1L - key, "I", BaseMicros / 1000000L - 1L,
      BaseMicros / 1000L - 1L, key % 1000L)

  /** Fold changes into a per-key LWW state. `dropDeletes` gives the
    * sync target's view (a key whose latest op is D is absent); without
    * it, deletes stay as the key's latest state (the stream sink view). */
  def fold(state: mutable.Map[Long, KeyRow], changes: Iterable[Change],
           dropDeletes: Boolean): Unit =
    changes.foreach { c =>
      val later = state.get(c.userId).forall(r =>
        c.ems > r.ems || (c.ems == r.ems && c.eventId > r.eventId))
      if (later) {
        if (dropDeletes && c.op == "D") state.remove(c.userId)
        else state(c.userId) = KeyRow(c.eventId, c.op, c.epochS, c.ems, c.cents)
      }
    }

  /** What the sync target stores per key: (event_id, op, epoch_s, cents). */
  def syncView(state: collection.Map[Long, KeyRow]): Map[Long, Product] =
    state.view.mapValues(r => (r.eventId, r.op, r.epochS, r.cents)).toMap

  /** What the stream sink stores per key: (event_id, op, ems, cents). */
  def streamView(state: collection.Map[Long, KeyRow]): Map[Long, Product] =
    state.view.mapValues(r => (r.eventId, r.op, r.ems, r.cents)).toMap

  /** Order-insensitive digest of a per-key state. */
  def digest(state: collection.Map[Long, Product]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    state.toSeq.sortBy(_._1).foreach { case (k, r) =>
      md.update(s"$k|${r.productIterator.mkString("|")};".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Keys whose state differs between the two maps (for messages). */
  def diff(want: collection.Map[Long, Product],
           got: collection.Map[Long, Product]): Seq[Long] =
    (want.keySet ++ got.keySet).toSeq.filter(k => want.get(k) != got.get(k))
      .sorted
}
