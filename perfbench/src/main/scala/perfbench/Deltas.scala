package perfbench

import scala.collection.mutable.ArrayBuffer

/** The evolve workload's delta stream, a pure function of the seed and
  * the base sizes: nothing here reads data, so the same seed always
  * yields the same bytes (the self-test checks it). Rows are named by
  * position — base lineitem rows by their row id, base graph pairs by
  * their index in the sorted canonical pair list, nodes by their index
  * in the sorted node list — and the workload resolves them.
  *
  * Each round changes about 1% of every input: half inserts, half
  * deletes (an update is a delete plus an insert; for the keyed orders
  * view, an upsert of an existing key). Lineitem, document and order
  * deltas accumulate round over round. Graph deltas are all taken
  * against the base graph, because the stored MRBG state is only ever
  * the base state (see Evolve). */
object Deltas {
  final case class Sizes(lineitems: Int, parts: Int, docs: Int, orders: Int,
                         custs: Int, pairs: Int, nodes: Int)

  final case class LiRow(rid: Long, partkey: Long, cents: Long)
  final case class DocRow(id: Long, text: String)
  final case class OrderRow(key: Long, cust: Long, status: String, cents: Long, version: Long)

  final case class Round(r: Int, liIns: Seq[LiRow], liDel: Seq[Long],
                         docIns: Seq[DocRow], docDel: Seq[Long],
                         orders: Seq[OrderRow],
                         pairDel: Seq[Int], pairIns: Seq[(Int, Int)]) {
    def rows: Long = liIns.size + liDel.size + docIns.size + docDel.size +
      orders.size + pairDel.size + pairIns.size
    /** Canonical serialization: equal bytes iff equal rounds. */
    def bytes: Array[Byte] = Seq(
      s"r=$r", liIns.mkString(","), liDel.mkString(","), docIns.mkString(","),
      docDel.mkString(","), orders.mkString(","), pairDel.mkString(","),
      pairIns.mkString(",")).mkString("\n").getBytes("UTF-8")
  }

  val Words: IndexedSeq[String] =
    ("spark join filter window batch stream column row table hash merge sort " +
     "group key value part line data query scan agg order customer vector " +
     "small big fast slow the a").split(" ").toIndexedSeq
  private val Statuses = IndexedSeq("F", "O", "P")

  /** Rounds 1..n of the stream for `seed`. */
  def stream(seed: Long, z: Sizes, n: Int): Seq[Round] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val liLive = ArrayBuffer.tabulate(z.lineitems)(_.toLong)
    val docLive = ArrayBuffer.tabulate(z.docs)(_.toLong)
    var nextRid = z.lineitems.toLong
    var nextDoc = z.docs.toLong
    var nextOrder = z.orders.toLong
    def half(total: Int) = math.max(1, total / 200)
    def takeLive(live: ArrayBuffer[Long], k: Int): Seq[Long] = (0 until k).map { _ =>
      val i = rng.nextInt(live.size)
      val v = live(i)
      live(i) = live(live.size - 1)
      live.remove(live.size - 1)
      v
    }
    (1 to n).map { r =>
      val liDel = takeLive(liLive, half(z.lineitems))
      val liIns = (0 until half(z.lineitems)).map { _ =>
        val row = LiRow(nextRid, rng.nextInt(z.parts).toLong, 90000L + rng.nextInt(10410000))
        nextRid += 1; liLive += row.rid; row
      }
      val docDel = takeLive(docLive, half(z.docs))
      val docIns = (0 until half(z.docs)).map { _ =>
        val text = (0 until 8 + rng.nextInt(82)).map(_ => Words(rng.nextInt(Words.size)))
          .mkString(" ")
        val d = DocRow(nextDoc, text)
        nextDoc += 1; docLive += d.id; d
      }
      val updated = (0 until half(z.orders)).map(_ => rng.nextLong(nextOrder)).distinct
      val fresh = (0 until half(z.orders)).map { _ => nextOrder += 1; nextOrder - 1 }
      val orders = (updated ++ fresh).map(k => OrderRow(k, rng.nextInt(z.custs).toLong,
        Statuses(rng.nextInt(3)), 100000L + rng.nextInt(49900000), r.toLong))
      val pairDel = (0 until half(z.pairs)).map(_ => rng.nextInt(z.pairs)).distinct.sorted
      val pairIns = (0 until half(z.pairs)).map { _ =>
        val a = rng.nextInt(z.nodes); val b = rng.nextInt(z.nodes)
        (a min b, a max b)
      }.distinct
      Round(r, liIns, liDel, docIns, docDel, orders, pairDel, pairIns)
    }
  }
}
