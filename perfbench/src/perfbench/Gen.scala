package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import graft.pipeline.Pipeline.TableResult

/** Seeded inputs and their ground truth. Every generator derives its
  * stream from (seed, salt), so one seed gives the same inputs on every
  * machine, and the truth is computed beside the inputs, never read back
  * from the program.
  */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def cents(c: Long): String = {
    val a = math.abs(c)
    f"${if (c < 0) "-" else ""}${a / 100}.${a % 100}%02d"
  }

  def writeLines(f: File, header: String, rows: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try { w.write(header); w.write('\n'); rows.foreach { r => w.write(r); w.write('\n') } }
    finally w.close()
  }
}

/** Daily drops in the reference layout (`products.csv`, `orders/<day>.csv`,
  * `order_items/<day>.csv`) with their expected `TableResult`s.
  *
  * Each drop re-delivers every product (a few renamed), adds `orders`
  * new orders and `itemsPerOrder` items per order, and mixes in rows the
  * pipeline must reject (non-positive amounts, dangling product ids),
  * exact duplicate rows, and late corrections to earlier days' orders.
  * Every `cleanEvery`-th day has no rejected rows.
  */
final class EtlGen(seed: Long, products: Int, orders: Int, itemsPerOrder: Int,
    cleanEvery: Int = 3) {
  import Gen._

  final case class Order(num: Int, id: Int, user: Int, ts: String, cents: Long, date: String) {
    def csv = s"$num,$id,$user,$ts,${Gen.cents(cents)},$date"
  }

  private val departments = Vector("Books", "Electronics", "Garden", "Grocery", "Home", "Sports", "Toys", "Beauty")
  private val deptOf = {
    val r = rng(seed, 1)
    Array.tabulate(products + 1)(_ => r.nextInt(departments.size))
  }
  private val rev = Array.fill(products + 1)(0)

  /** The curated orders and the item count, as the pipeline must leave them. */
  val orderState = mutable.LinkedHashMap.empty[Int, Order]
  var itemCount = 0L
  private var nextOrder = 10000
  private var nextItem = 1

  /** Keys a read-back checks after each day: the day's corrections, or its new orders. */
  var probeKeys: Seq[Int] = Nil
  var inputRows = 0L

  def date(day: Int): String = LocalDate.of(2025, 4, 1).plusDays(day.toLong).toString
  def productName(id: Int): String = s"Product_${id}_r${rev(id)}"

  /** Write day `day`'s drop under `dir` and return the expected results. */
  def drop(day: Int, dir: String): Seq[TableResult] = {
    val r = rng(seed, 1000L + day)
    val clean = day % cleanEvery == cleanEvery - 1
    val d = date(day)

    if (day > 0) (1 to math.max(1, products / 200)).foreach(_ => rev(1 + r.nextInt(products)) += 1)
    writeLines(new File(dir, "products.csv"), "product_id,department_id,department,product_name",
      (1 to products).iterator.map(p =>
        s"$p,${deptOf(p) + 1},${departments(deptOf(p))},${productName(p)}"))

    // new orders; ~2% non-positive amounts are rejected (none on clean days)
    val fresh = (0 until orders).map { i =>
      val id = nextOrder; nextOrder += 1
      val bad = !clean && r.nextInt(50) == 0
      val c = if (bad) -r.nextLong(5000) else 500L + r.nextLong(50000)
      Order(i + 1, id, 1 + r.nextInt(5000), f"${d}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00", c, d)
    }
    val valid = fresh.filter(_.cents > 0)
    // late corrections (~10%): distinct earlier orders, new positive amount
    val earlier = orderState.keysIterator.toVector
    val corrections = if (earlier.isEmpty) Vector.empty[Order] else {
      val picked = mutable.LinkedHashSet.empty[Int]
      val want = math.min(orders / 10, earlier.size)
      while (picked.size < want) picked += earlier(r.nextInt(earlier.size))
      picked.toVector.map(id => orderState(id).copy(cents = 500L + r.nextLong(50000)))
    }
    val orderDups = valid.filter(_ => r.nextInt(100) == 0) // exact re-delivered rows
    val orderRows = fresh ++ corrections ++ orderDups
    writeLines(new File(dir, s"orders/$d.csv"),
      "order_num,order_id,user_id,order_timestamp,total_amount,date",
      orderRows.iterator.map(_.csv))
    (valid ++ corrections).foreach(o => orderState(o.id) = o)
    probeKeys = (if (corrections.nonEmpty) corrections else valid).take(8).map(_.id)

    // items of the day's valid orders; ~1% dangle on product_id
    val items = mutable.ArrayBuffer.empty[(String, Boolean)]
    var kept = 0
    valid.foreach { o =>
      (1 to itemsPerOrder).foreach { k =>
        val id = nextItem; nextItem += 1
        val dangling = !clean && r.nextInt(100) == 0
        val pid = if (dangling) products + 1 + r.nextInt(1000) else 1 + r.nextInt(products)
        val dsp = if (r.nextInt(20) == 0) "" else r.nextInt(31).toString
        val row = s"$id,${o.id},${o.user},$dsp,$pid,$k,${r.nextInt(2)},${o.ts},${o.date}"
        items += row -> dangling
        if (!dangling) kept += 1
        if (!dangling && r.nextInt(100) == 0) items += row -> false
      }
    }
    writeLines(new File(dir, s"order_items/$d.csv"),
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp,date",
      items.iterator.map(_._1))
    itemCount += kept
    val itemsRejected = items.count(_._2).toLong

    val ordersRejected = (fresh.size - valid.size).toLong
    inputRows = products.toLong + orderRows.size + items.size
    Seq(
      TableResult("products", products, products, 0, products),
      TableResult("orders", orderRows.size, orderRows.size - ordersRejected, ordersRejected,
        orderState.size.toLong),
      TableResult("order_items", items.size, items.size - itemsRejected, itemsRejected, itemCount))
  }
}

/** A TPC-H-shaped `orders` table partitioned by month, and upsert
  * batches against it: mostly updates to recent months, plus inserts of
  * new keys into the latest month.
  */
final class UpsertGen(seed: Long, rows: Int, months: Int) {
  import Gen._

  val price = mutable.HashMap.empty[Long, Long] // o_orderkey → o_totalprice in cents
  private val byMonth = Array.fill(months)(mutable.ArrayBuffer.empty[Long])
  private var nextKey = 1L

  def monthName(m: Int): String = LocalDate.of(1992, 1, 1).plusMonths(m.toLong).toString.take(7)

  private def row(r: SplittableRandom, key: Long, m: Int, c: Long, status: String): Seq[Any] = {
    val day = LocalDate.of(1992, 1, 1).plusMonths(m.toLong).plusDays(r.nextInt(28).toLong)
    Seq(key, 1 + r.nextInt(15000), status, c / 100.0, java.sql.Date.valueOf(day),
      s"${1 + r.nextInt(5)}-PRIORITY", f"Clerk#${1 + r.nextInt(1000)}%09d", 0,
      s"comment ${r.nextInt(100000)}", monthName(m))
  }

  private def put(key: Long, m: Int, c: Long): Unit = {
    if (!price.contains(key)) byMonth(m) += key
    price(key) = c
  }

  def base(): Seq[Seq[Any]] = {
    val r = rng(seed, 7)
    (0 until rows).map { i =>
      val m = (i.toLong * months / rows).toInt
      val key = nextKey; nextKey += 1
      val c = 90000L + r.nextLong(50000000L)
      put(key, m, c)
      row(r, key, m, c, "O")
    }
  }

  /** Per-month share of a batch's updates, newest month first: recent
    * partitions are hot. Fixed, so every batch touches the same number of
    * partitions and batches cost alike across seeds.
    */
  val updateShares: Vector[Double] = Vector(0.30, 0.22, 0.16, 0.12, 0.08, 0.06, 0.04, 0.02)

  /** Batch `b`: `n` distinct keys, 90% updates spread over the recent
    * months by [[updateShares]] and 10% inserts into the latest month.
    */
  def batch(b: Int, n: Int): Seq[Seq[Any]] = {
    val r = rng(seed, 100000L + b)
    val inserts = n / 10
    val updates = updateShares.zipWithIndex.map { case (w, age) =>
      val m = months - 1 - age
      val ks = byMonth(m)
      val picked = mutable.LinkedHashSet.empty[Long]
      val want = math.min(ks.size, math.round(w * (n - inserts)).toInt)
      while (picked.size < want) picked += ks(r.nextInt(ks.size))
      picked.toSeq.map { key =>
        val c = 90000L + r.nextLong(50000000L)
        put(key, m, c)
        row(r, key, m, c, "F")
      }
    }.flatten
    val fresh = (0 until inserts).map { _ =>
      val key = nextKey; nextKey += 1
      val c = 90000L + r.nextLong(50000000L)
      put(key, months - 1, c)
      row(r, key, months - 1, c, "O")
    }
    updates ++ fresh
  }

  def checksum: Long = price.valuesIterator.sum
}
