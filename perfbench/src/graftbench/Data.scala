package graftbench

import java.sql.Timestamp
import java.time.LocalDate
import java.util.SplittableRandom

/** Rows shaped like TPC-H lineitem (sf0.1 schema), plus the partition
  * column and the generated precombine sequence. */
final case class LineItem(l_orderkey: Long, l_linenumber: Int,
    l_partkey: Long, l_suppkey: Long, l_quantity: Double,
    l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp,
    ship_year: Int, seq: Long)

/** Rows shaped like TPC-H orders (sf0.1 schema), plus the partition column
  * and the precombine sequence. */
final case class Order(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
    o_orderpriority: String, o_year: Int, o_seq: Long)

/** Rows shaped like the sf0.1 `documents` table. */
final case class Doc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Rows shaped like the sf0.1 `embeddings` table. */
final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded generators. Every value is a pure function of (seed, key), so
  * Spark tasks and the driver-side model produce the same rows without
  * either reading the other. */
object Gen {
  /** TPC-H's order-date range: 1992-01-01 plus 2405 days. */
  val Day0: Long = LocalDate.of(1992, 1, 1).toEpochDay
  val OrderDays = 2405
  /** Lines shipped after this day are still open ('O'/'N'). */
  val CurrentDay: Long = LocalDate.of(1995, 6, 17).toEpochDay

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, k: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 31 + stream) + k))

  def ts(day: Long): Timestamp = new Timestamp(day * 86400000L)
  def year(day: Long): Int = LocalDate.ofEpochDay(day).getYear

  /** Order keys follow order dates, as keys assigned at order time do. */
  def orderDay(k: Long, nOrders: Long): Long = Day0 + (k - 1) * OrderDays / nOrders

  def lineItems(seed: Long, k: Long, nOrders: Long): Seq[LineItem] = {
    val r = rng(seed, 1, k)
    val od = orderDay(k, nOrders)
    (1 to 1 + r.nextInt(7)).map(ln => line(r, k, ln, od + 1 + r.nextInt(121), 0L))
  }

  def line(r: SplittableRandom, k: Long, ln: Int, shipDay: Long, seq: Long): LineItem = {
    val qty = 1 + r.nextInt(50)
    val open = shipDay > CurrentDay
    LineItem(k, ln, 1 + r.nextInt(20000), 1 + r.nextInt(1000), qty,
      qty.toLong * (90000 + r.nextInt(20000)) / 100.0, r.nextInt(11) / 100.0,
      r.nextInt(9) / 100.0, if (open) "N" else if (r.nextBoolean()) "R" else "A",
      if (open) "O" else "F", ts(shipDay), year(shipDay), seq)
  }

  /** A CDC update of an existing line: new quantity, price, discount and
    * status; key, ship date and partition stay. */
  def updateLine(r: SplittableRandom, li: LineItem, seq: Long): LineItem = {
    val qty = 1 + r.nextInt(50)
    li.copy(l_quantity = qty,
      l_extendedprice = qty.toLong * (90000 + r.nextInt(20000)) / 100.0,
      l_discount = r.nextInt(11) / 100.0,
      l_linestatus = if (r.nextInt(4) == 0) "F" else li.l_linestatus, seq = seq)
  }

  /** Order-independent row checksum; [[lineHashSql]] is the same formula in
    * Spark SQL. Every term stays far below 2^63 for the generated ranges. */
  def lineHash(li: LineItem): Long = java.lang.Math.floorMod(
    li.l_orderkey * 1000003L + li.l_linenumber * 7919L + li.l_partkey * 131L +
      li.l_suppkey * 17L + math.round(li.l_quantity) * 3L +
      math.round(li.l_extendedprice * 100) * 7L + math.round(li.l_discount * 100) * 11L +
      math.round(li.l_tax * 100) * 13L + li.l_returnflag.charAt(0) * 101L +
      li.l_linestatus.charAt(0) * 103L + (li.l_shipdate.getTime / 1000) * 107L +
      li.seq * 109L + li.ship_year * 113L, 2147483647L)

  val lineHashSql: String =
    "pmod(l_orderkey * 1000003 + cast(l_linenumber as bigint) * 7919 + " +
      "l_partkey * 131 + l_suppkey * 17 + cast(round(l_quantity) as bigint) * 3 + " +
      "cast(round(l_extendedprice * 100) as bigint) * 7 + " +
      "cast(round(l_discount * 100) as bigint) * 11 + " +
      "cast(round(l_tax * 100) as bigint) * 13 + " +
      "cast(ascii(l_returnflag) as bigint) * 101 + " +
      "cast(ascii(l_linestatus) as bigint) * 103 + " +
      "unix_seconds(l_shipdate) * 107 + seq * 109 + " +
      "cast(ship_year as bigint) * 113, 2147483647)"

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def order(seed: Long, k: Long, nOrders: Long): Order = {
    val r = rng(seed, 2, k)
    val day = orderDay(k, nOrders)
    Order(k, 1 + r.nextInt(15000), Statuses(r.nextInt(3)),
      (100000 + r.nextInt(50000000)) / 100.0, ts(day),
      Priorities(r.nextInt(5)), year(day), 0L)
  }

  def updateOrder(r: SplittableRandom, o: Order, seq: Long): Order =
    o.copy(o_orderstatus = Statuses(r.nextInt(3)),
      o_totalprice = (100000 + r.nextInt(50000000)) / 100.0, o_seq = seq)

  def orderHash(o: Order): Long = java.lang.Math.floorMod(
    o.o_orderkey * 1000003L + o.o_custkey * 7919L + o.o_orderstatus.charAt(0) * 101L +
      math.round(o.o_totalprice * 100) * 7L + (o.o_orderdate.getTime / 1000) * 107L +
      o.o_orderpriority.charAt(0) * 103L + o.o_seq * 109L + o.o_year * 113L,
    2147483647L)

  val orderHashSql: String =
    "pmod(o_orderkey * 1000003 + o_custkey * 7919 + " +
      "cast(ascii(o_orderstatus) as bigint) * 101 + " +
      "cast(round(o_totalprice * 100) as bigint) * 7 + " +
      "unix_seconds(o_orderdate) * 107 + " +
      "cast(ascii(o_orderpriority) as bigint) * 103 + o_seq * 109 + " +
      "cast(o_year as bigint) * 113, 2147483647)"

  /** A word list of 2,000 syllable compounds; documents draw from it with
    * a skew toward the first words, as natural text does. */
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ten", "ra", "su", "vo", "der", "pa",
      "ni", "ge", "tor", "bu", "shi", "an", "el")
    (0 until 2000).map { i =>
      syl(i % 16) + syl((i / 16) % 16) + (if (i >= 256) syl((i / 256) % 16) else "")
    }.toArray
  }

  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Vocab((u * u * Vocab.length).toInt)
  }

  def docText(r: SplittableRandom): String =
    Seq.fill(60 + r.nextInt(61))(word(r)).mkString(" ")

  def doc(id: Long, text: String, r: SplittableRandom): Doc =
    Doc(id, text, if (r.nextInt(4) == 0) "zh" else "en", s"src${r.nextInt(8)}",
      text.length.toLong)

  def corpusDoc(seed: Long, id: Long): Doc = {
    val r = rng(seed, 3, id)
    doc(id, docText(r), r)
  }

  /** A near-duplicate: one word of `text` replaced. With 60-120 words the
    * 3-shingle Jaccard stays above 0.9, far above the gate's 0.5. */
  def nearDup(text: String, r: SplittableRandom): String = {
    val w = text.split(' ')
    w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
    w.mkString(" ")
  }

  val Dim = 64
  val Clusters = 32

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream
    val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def centers(seed: Long): Array[Array[Double]] =
    Array.tabulate(Clusters) { c =>
      val r = rng(seed, 4, c)
      Array.fill(Dim)(gaussian(r))
    }

  def vec(seed: Long, id: Long, cs: Array[Array[Double]]): Vec = {
    val r = rng(seed, 5, id)
    val c = r.nextInt(Clusters)
    Vec(id, Array.tabulate(Dim)(i => (cs(c)(i) + 0.6 * gaussian(r)).toFloat), c)
  }

  /** A query: a corpus vector perturbed by small noise. */
  def query(seed: Long, qid: Long, base: Vec): Vec = {
    val r = rng(seed, 6, qid)
    Vec(qid, base.embedding.map(x => (x + 0.15 * gaussian(r)).toFloat), base.label)
  }
}
