package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded generator of reference-shaped retail CSVs (customers, products and
  * a stream of 5,000-row transaction chunks) plus a plain-Scala model of the
  * fact table those chunks must produce.
  *
  * The CSVs carry the reference's quirks: 100 customer ids re-sent many times
  * (last write wins), `$`-suffixed and negative prices, unparseable prices,
  * blank product key fields, quoted commas, the timestamp form plus four date
  * formats, unparseable dates, bad quantities, transactions naming unknown
  * customers or products, and re-sent ORDER_IDs within and across chunks.
  *
  * The model applies the engine's documented cleaning rules
  * (`RetailIngest`): a product is kept when productID, productName,
  * supplierID and storeID are non-blank after trimming, its price is the
  * `[0-9.]` characters of the field (0 when that is not a number); a
  * transaction is kept when its date parses, its quantity is bare digits,
  * and its customer and product exist; per chunk the last kept row of an
  * ORDER_ID wins, and the MERGE replaces the stored row of that id. */
final class Etl(seed: Long) {
  val ChunkRows = 5000
  private val Customers = 100
  private val Products = 200

  private val rng = new scala.util.Random(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  /** productID -> price in cents, for the products the cleaner keeps. */
  private val priceCents = mutable.HashMap.empty[Int, Long]

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  val customersCsv: String = {
    val names = IndexedSeq("Ali", "Sara", "Omar", "Hina", "Bilal", "Ayesha", "Zain", "Fatima")
    val ids = rng.shuffle((1 to Customers).toVector) ++
      Vector.fill(Customers * 29)(1 + rng.nextInt(Customers))
    val rows = ids.map { id =>
      val name = if (rng.nextInt(10) == 0) s"${pick(names)}, Jr." else s"${pick(names)} $id"
      s"$id,${csvField(name)},${if (rng.nextBoolean()) "Male" else "Female"}"
    }
    ("customer_id,customer_name,gender" +: rows).mkString("", "\n", "\n")
  }

  val productsCsv: String = {
    val suppliers = IndexedSeq("TechSupply Ltd", "Streambox, Inc.", "Gadget World",
      "Fresh Farms, LLC", "Metro Goods")
    val stores = IndexedSeq("Electro Mart", "Gizmo House", "Mega Store", "Corner, Shop")
    val rows = (1 to Products).map { id =>
      val cents = 100L + rng.nextInt(200000)
      val plain = f"${cents / 100}%d.${cents % 100}%02d"
      val (price, kept) = rng.nextInt(20) match {
        case 0 => ("abc$", 0L)
        case 1 => (s"-$plain$$", cents) // the cleaner strips the sign
        case 2 => (plain, cents)
        case _ => (s"$plain$$", cents)
      }
      val blank = rng.nextInt(25) == 0
      val name = if (blank) "  " else s" Product $id "
      if (!blank) priceCents(id) = kept
      val store = 1 + rng.nextInt(stores.size)
      Seq(id.toString, name, price, (10 + rng.nextInt(40)).toString, pick(suppliers),
        store.toString, stores(store - 1)).map(csvField).mkString(",")
    }
    ("productID,productName,productPrice,supplierID,supplierName,storeID,storeName" +: rows)
      .mkString("", "\n", "\n")
  }

  private var nextOrder = 100001L
  private val issued = mutable.ArrayBuffer.empty[Long]

  /** (ORDER_ID -> SALE in cents) of the fact table after the chunks so far. */
  val fact = mutable.HashMap.empty[Long, Long]

  private def date(): (String, Boolean) = {
    val y = 2019 + rng.nextInt(3); val m = 1 + rng.nextInt(12); val d = 1 + rng.nextInt(28)
    rng.nextInt(50) match {
      case 0 => ("not-a-date", false)
      case 1 => (f"1819-$m%02d-$d%02d 12:00:00", true)
      case k => (k % 5 match {
        case 0 => f"$y-$m%02d-$d%02d ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"
        case 1 => f"$y-$m%02d-$d%02d"
        case 2 => f"$m%02d/$d%02d/$y"
        case 3 => f"$d%02d-$m%02d-$y"
        case _ => f"$y/$m%02d/$d%02d"
      }, true)
    }
  }

  private def quantity(): (String, Option[Long]) = rng.nextInt(50) match {
    case 0 => (s"-${1 + rng.nextInt(9)}", None)
    case 1 => ("xyz", None)
    case 2 => ("3.7", None)
    case _ => val q = 1 + rng.nextInt(20); (q.toString, Some(q.toLong))
  }

  /** Writes the next chunk to `path` and applies it to [[fact]]. Returns the
    * number of source rows in the chunk. */
  def nextChunk(path: Path): Int = {
    val sb = new StringBuilder("Order ID,Order Date,ProductID,Quantity Ordered,customer_id,time_id\n")
    val delta = mutable.LinkedHashMap.empty[Long, Long]
    for (_ <- 0 until ChunkRows) {
      val order =
        if (issued.nonEmpty && rng.nextInt(10) == 0) issued(rng.nextInt(issued.size))
        else { val o = nextOrder; nextOrder += 1; issued += o; o }
      val (d, dateOk) = date()
      val (q, qty) = quantity()
      val product = 1 + rng.nextInt(Products + 10)
      val customer = 1 + rng.nextInt(Customers + 5)
      sb.append(s"$order,$d,$product,$q,$customer,${rng.nextInt(1000)}\n")
      for (n <- qty; p <- priceCents.get(product) if dateOk && customer <= Customers)
        delta(order) = n * p
    }
    Files.writeString(path, sb.toString)
    fact ++= delta
    ChunkRows
  }

  def liveRows: Long = fact.size.toLong
  def saleCents: Long = fact.valuesIterator.sum
}
