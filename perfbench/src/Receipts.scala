package perfbench

import java.util.SplittableRandom

import org.apache.spark.util.{DoubleAccumulator, LongAccumulator}

import graft.receipts.ExpenseAnalyzer

/** What one synthetic receipt says, derived only from (seed, aHash), so
  * the stand-in analyzer and the result check compute it independently
  * of anything the engine produced.
  *
  * `expectedOther` applies last-wins to the OTHER fields in document
  * order, which is what the engine's pivot must reproduce.
  */
final case class Receipt(
    vendor: String,
    address: String,
    dateText: String,
    dateExpected: String, // yyyy-MM-dd HH:mm, UTC
    subTotalCents: Int,
    taxCents: Int,
    totalCents: Int,
    other: Vector[(String, String)],
    items: Vector[(String, Int, Int)]) {
  def expectedOther: Map[String, String] = other.foldLeft(Map.empty[String, String]) {
    case (m, (k, v)) => m - k + (k -> v)
  }
}

/** Receipt shape per workload: `ingest_scans` replays short responses
  * like the captured fixture (a handful of typed fields, 2 line items),
  * `watch_receipts` long ones (tens of OTHER fields and line items,
  * 40-60 KB of JSON each).
  */
final case class Shape(otherFields: Int, lineItems: Int)

object Shape {
  val short = Shape(otherFields = 3, lineItems = 2)
  val long = Shape(otherFields = 30, lineItems = 16)
  def of(workload: String): Shape = if (workload == "watch_receipts") long else short
}

object Receipts {
  private val Vendors = Vector("Corner Market", "Blue Fern Cafe", "Hardware Depot",
    "Sunrise Pharmacy", "Green Grocer", "Metro Fuel", "Book Nook", "Pasta Place",
    "City Diner", "Tech Outlet", "Garden Supply", "Pet Corner")
  private val Streets = Vector("Main St", "Oak Ave", "Pine Rd", "Elm St", "Lake Blvd",
    "Hill Dr", "River Rd", "Park Ave")
  private val Labels = Vector("Cashier", "Register", "Store", "Transaction", "Card",
    "Auth Code", "Terminal", "Lane", "Operator", "Ref", "Member", "Points", "Approval",
    "Entry Mode", "Batch", "Seq", "Invoice", "Order", "Table", "Server", "Guests",
    "Phone", "Tip", "Change", "Tendered", "Savings", "Loyalty", "Station", "Shift",
    "Account", "Merchant", "Trace", "AID", "TVR", "Route", "Zone", "Aisle", "Dept",
    "Coupon", "Rebate")
  private val Items = Vector("Milk", "Bread", "Coffee", "Eggs", "Apples", "Screws",
    "Batteries", "Notebook", "Shampoo", "Pasta", "Tomatoes", "Cheese", "Rice", "Tea",
    "Soap", "Tape", "Pens", "Juice", "Yogurt", "Bananas")
  private val Months = Vector("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG",
    "SEP", "OCT", "NOV", "DEC")

  private def money(cents: Int): String = f"${cents / 100}%d.${cents % 100}%02d"

  def of(seed: Long, hash: Long, shape: Shape): Receipt = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ hash)
    val y = 2019 + r.nextInt(5); val mo = 1 + r.nextInt(12); val d = 1 + r.nextInt(28)
    val hh = r.nextInt(24); val mm = r.nextInt(60)
    // three of the shapes fuzzyDate parses
    val dateText = r.nextInt(3) match {
      case 0 => f"${Months(mo - 1)} $d,$y $hh%02d:$mm%02d"
      case 1 => f"$y-$mo%02d-$d%02d $hh%02d:$mm%02d"
      case _ => f"$mo/$d/$y $hh%02d:$mm%02d"
    }
    val sub = 100 + r.nextInt(800000)
    val tax = sub * (5 + r.nextInt(5)) / 100
    val total = sub + tax // at most 8721.09, inside decimal(6,2)
    // about one OTHER field in eight reuses an earlier label (last wins)
    val other = Vector.tabulate(shape.otherFields) { i =>
      val label =
        if (i > 0 && r.nextInt(8) == 0) Labels(r.nextInt(math.min(i, Labels.size)))
        else Labels(i % Labels.size)
      label -> s"${r.nextInt(100000)}-${Labels(r.nextInt(Labels.size)).take(3).toUpperCase}"
    }
    val items = Vector.fill(shape.lineItems)(
      (Items(r.nextInt(Items.size)), 50 + r.nextInt(20000), 1 + r.nextInt(9)))
    Receipt(
      vendor = s"${Vendors(r.nextInt(Vendors.size))} ${100 + r.nextInt(900)}",
      address = s"${1 + r.nextInt(9999)} ${Streets(r.nextInt(Streets.size))}",
      dateText = dateText,
      dateExpected = f"$y-$mo%02d-$d%02d $hh%02d:$mm%02d",
      subTotalCents = sub, taxCents = tax, totalCents = total,
      other = other, items = items)
  }

  /** Geometry blocks rendered once; each detection picks one, so the
    * responses carry the captured fixture's full nesting at its size.
    */
  private val Geometries: Vector[String] = {
    val r = new SplittableRandom(7L)
    Vector.fill(64) {
      def f() = r.nextDouble().toString
      val poly = Seq.fill(4)(s"""{"X":${f()},"Y":${f()}}""").mkString(",")
      s"""{"BoundingBox":{"Height":${f()},"Left":${f()},"Top":${f()},"Width":${f()}},"Polygon":[$poly]}"""
    }
  }

  private def detection(sb: java.lang.StringBuilder, text: String, k: Int): Unit = {
    sb.append("{\"Text\":\"").append(text).append("\",\"Confidence\":9").append(k % 10)
      .append(".5,\"Geometry\":").append(Geometries(k & 63)).append('}')
  }

  private def field(sb: java.lang.StringBuilder, tpe: String, label: String,
                    value: String, k: Int): Unit = {
    sb.append("{\"PageNumber\":1,\"Type\":{\"Text\":\"").append(tpe)
      .append("\",\"Confidence\":99.0}")
    if (label != null) { sb.append(",\"LabelDetection\":"); detection(sb, label, k) }
    sb.append(",\"ValueDetection\":"); detection(sb, value, k + 1)
    sb.append('}')
  }

  /** Textract analyze_expense JSON for one receipt. */
  def render(rc: Receipt): String = {
    val sb = new java.lang.StringBuilder(1024 + 1400 * (rc.other.size + 3 * rc.items.size))
    sb.append("{\"DocumentMetadata\":{\"Pages\":1},\"ExpenseDocuments\":[{\"ExpenseIndex\":1,\"SummaryFields\":[")
    var k = rc.totalCents
    def sep(): Unit = { sb.append(','); k += 3 }
    field(sb, "VENDOR_NAME", null, rc.vendor, k); sep()
    field(sb, "RECEIVER_ADDRESS", null, rc.address, k); sep()
    field(sb, "INVOICE_RECEIPT_DATE", "Date", rc.dateText, k); sep()
    field(sb, "SUBTOTAL", "Subtotal", "$" + money(rc.subTotalCents), k); sep()
    field(sb, "TAX", "Tax", "$" + money(rc.taxCents), k); sep()
    field(sb, "TOTAL", "Total", "$" + money(rc.totalCents), k)
    rc.other.foreach { case (l, v) => sep(); field(sb, "OTHER", l, v, k) }
    sb.append("],\"LineItemGroups\":[{\"LineItemGroupIndex\":1,\"LineItems\":[")
    var first = true
    rc.items.foreach { case (name, cents, qty) =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"LineItemExpenseFields\":[")
      field(sb, "ITEM", "Item", name, k); sep()
      field(sb, "PRICE", "Price", "$" + money(cents), k); sep()
      field(sb, "QUANTITY", "Qty", qty.toString, k)
      sb.append("]}")
    }
    sb.append("]}]}]}")
    sb.toString
  }
}

/** The benchmark's stand-in for the remote Textract call: renders the
  * response of the receipt whose aHash is the image id. It counts its
  * calls and the time spent inside it, so that time can be subtracted
  * from the enrichment stage.
  */
final class StubAnalyzer(seed: Long, shape: Shape, val calls: LongAccumulator,
                         val seconds: DoubleAccumulator) extends ExpenseAnalyzer {
  def open(): (String, Array[Byte]) => String = { (imgId, _) =>
    val t0 = System.nanoTime()
    val json = Receipts.render(Receipts.of(seed, java.lang.Long.parseUnsignedLong(imgId, 16), shape))
    calls.add(1L)
    seconds.add((System.nanoTime() - t0) / 1e9)
    json
  }
}

object StubAnalyzer {
  def apply(spark: org.apache.spark.sql.SparkSession, seed: Long, shape: Shape): StubAnalyzer =
    new StubAnalyzer(seed, shape, spark.sparkContext.longAccumulator("perfbench.analyze.calls"),
      spark.sparkContext.doubleAccumulator("perfbench.analyze.seconds"))
}
