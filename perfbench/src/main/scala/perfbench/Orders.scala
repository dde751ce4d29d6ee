package perfbench

import java.util.Locale
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One completed order in the raw `OrderComplete` JSON shape
  * (`Model.orderCompleteRawSchema`): decimals as strings, times as
  * double unix seconds. */
final case class Order(txid: String, pair: String, orderType: String,
    side: String, price: BigDecimal, fee: BigDecimal, volume: BigDecimal,
    openTime: Double, closeTime: Double) {
  /** The table key `(transaction_id, close_time)`; the load transform
    * floors `close_time` to whole seconds. */
  def key: (String, Long) = (txid, math.floor(closeTime).toLong)

  def json: String = {
    def t(d: Double) = String.format(Locale.ROOT, "%.3f", Double.box(d))
    s"""{"transaction_id":"$txid","exchange_status":"closed",""" +
      s""""pair":"$pair","order_type":"$orderType","type":"$side",""" +
      s""""price":"${price.bigDecimal.toPlainString}",""" +
      s""""fee":"${fee.bigDecimal.toPlainString}",""" +
      s""""volume":"${volume.bigDecimal.toPlainString}",""" +
      s""""open_time":${t(openTime)},"close_time":${t(closeTime)}}"""
  }
}

/** Seeded generator of completed-order batches, in the reference's
  * traffic shape: every cron firing places one order per configured pair,
  * in turn, and each completed order lands as its own one-row JSON file.
  *
  * - A `RedeliverShare` of the rows after the first batch re-deliver an
  *   earlier `(transaction_id, close_time)` with amended price, fee and
  *   volume (the queue between the reference's lambdas delivers at least
  *   once). Re-delivered keys are distinct within a batch and the amended
  *   volume always differs, so the latest batch decides every key it
  *   touches and always changes the model.
  * - Batches depend only on the seed and their index: the same seed gives
  *   byte-identical batches. */
final class OrderGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val history = ArrayBuffer.empty[Order]
  private var nextId = 0L

  private def dec(lo: Double, hi: Double, scale: Int): BigDecimal =
    BigDecimal(lo + rnd.nextDouble() * (hi - lo))
      .setScale(scale, BigDecimal.RoundingMode.HALF_EVEN)

  private def fill(p: Int): (BigDecimal, BigDecimal, BigDecimal) = {
    val base = OrderGen.basePrice(p)
    val price = dec(base * 0.9, base * 1.1, 2)
    val volume = dec(0.001, 5.0, 8)
    val fee = (price * volume * BigDecimal("0.0026"))
      .setScale(8, BigDecimal.RoundingMode.HALF_EVEN)
    (price, fee, volume)
  }

  private def fresh(): Order = {
    val n = nextId
    nextId += 1
    val p = (n % OrderGen.pairs.size).toInt
    val (price, fee, volume) = fill(p)
    val open = 1.7e9 + n * 13.0 + rnd.nextInt(1000) / 1000.0
    Order(f"O$seed%d-$n%08d", OrderGen.pairs(p),
      if (rnd.nextInt(4) == 0) "limit" else "market",
      if (rnd.nextBoolean()) "buy" else "sell",
      price, fee, volume, open, open + 1 + rnd.nextInt(600) + rnd.nextInt(1000) / 1000.0)
  }

  private def amend(o: Order): Order = {
    val (price, fee, volume) = Iterator.continually(fill(OrderGen.pairs.indexOf(o.pair)))
      .find(_._3 != o.volume).get
    o.copy(price = price, fee = fee, volume = volume)
  }

  def nextBatch(rows: Int): Seq[Order] = {
    val earlier = history.size
    val picked = mutable.HashSet.empty[Int]
    Seq.fill(rows) {
      if (picked.size < earlier && rnd.nextDouble() < OrderGen.RedeliverShare) {
        var i = rnd.nextInt(earlier)
        while (picked(i)) i = rnd.nextInt(earlier)
        picked += i
        history(i) = amend(history(i))
        history(i)
      } else {
        val o = fresh()
        history += o
        o
      }
    }
  }
}

object OrderGen {
  /** Pairs the configuration buys. The reference's example configuration
    * lists one order; four give the table several `pair` partitions, as a
    * deployment buying several pairs has. */
  val pairs: Seq[String] = Seq("XBTGBP", "ETHGBP", "ADAGBP", "SOLGBP")
  val RedeliverShare = 0.2
  private def basePrice(p: Int): Double = 30000.0 / math.pow(3.0, p)

  def render(batch: Seq[Order]): Array[Byte] =
    batch.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8")
}

/** Per-pair aggregates of the table: row count, `sum(volume)` and the
  * signed position `sum(buy volume) - sum(sell volume)`. */
final case class PairAgg(n: Long, volume: BigDecimal, position: BigDecimal) {
  def add(o: Order, sign: Int): PairAgg = PairAgg(n + sign,
    volume + sign * o.volume,
    position + sign * (if (o.side == "buy") o.volume else -o.volume))
}

/** The benchmark's model of the table: upsert semantics keyed on
  * `(transaction_id, close_time)`, the latest batch winning. Keeps the
  * per-pair aggregates after every applied batch, so a read can be
  * checked against any committed prefix. */
final class OrderModel {
  private val rows = mutable.HashMap.empty[(String, Long), Order]
  private var agg = Map.empty[String, PairAgg]
  private val history = ArrayBuffer(Map.empty[String, PairAgg])

  def apply(batch: Seq[Order]): Unit = {
    batch.foreach { o =>
      rows.put(o.key, o).foreach(old => bump(old, -1))
      bump(o, 1)
    }
    history += agg
  }

  private def bump(o: Order, sign: Int): Unit =
    agg = agg.updated(o.pair,
      agg.getOrElse(o.pair, PairAgg(0, BigDecimal(0), BigDecimal(0))).add(o, sign))

  def batches: Int = history.size - 1
  def rowCount: Long = rows.size.toLong
  /** Aggregates after the first `n` applied batches. */
  def after(n: Int): Map[String, PairAgg] = history(n).filter(_._2.n > 0)
  def current: Map[String, PairAgg] = after(batches)
}
