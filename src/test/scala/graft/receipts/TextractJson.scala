package graft.receipts

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Textract-shaped `analyze_expense` JSON for fixture-free specs: every
  * detection carries a Geometry block (the bytes a summary parse skips),
  * and the document carries line items next to its summary fields.
  */
object TextractJson {

  val Geometry: String =
    """{"BoundingBox":{"Height":0.02,"Left":0.1,"Top":0.3,"Width":0.4},""" +
      """"Polygon":[{"X":0.1,"Y":0.3},{"X":0.5,"Y":0.3},{"X":0.5,"Y":0.32},{"X":0.1,"Y":0.32}]}"""

  /** Well-formed JSON, wrong types: a string height and a string polygon. */
  val MalformedGeometry: String =
    """{"BoundingBox":{"Height":"tall","Left":0.1,"Top":0.3,"Width":0.4},"Polygon":"oops"}"""

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def detection(text: String, geometry: String): String =
    s"""{"Text":${quote(text)},"Confidence":97.5,"Geometry":$geometry}"""

  private def field(tpe: String, label: Option[String], value: String,
                    geometry: String): String =
    s"""{"PageNumber":1,"Type":{"Text":${quote(tpe)},"Confidence":99.0},""" +
      label.map(l => s""""LabelDetection":${detection(l, geometry)},""").getOrElse("") +
      s""""ValueDetection":${detection(value, geometry)}}"""

  /** One response: summary fields as (Type, label, value) in document
    * order, line items as (item, price, quantity).
    */
  def response(fields: Seq[(String, Option[String], String)],
               items: Seq[(String, String, String)],
               geometry: String = Geometry): String = {
    val summary = fields.map { case (t, l, v) => field(t, l, v, geometry) }
    val lineItems = items.map { case (item, price, qty) =>
      val fs = Seq(("ITEM", item), ("PRICE", price), ("QUANTITY", qty))
        .map { case (t, v) => field(t, None, v, geometry) }
      s"""{"LineItemExpenseFields":[${fs.mkString(",")}]}"""
    }
    s"""{"DocumentMetadata":{"Pages":1},"ExpenseDocuments":[{"ExpenseIndex":1,""" +
      s""""SummaryFields":[${summary.mkString(",")}],""" +
      s""""LineItemGroups":[{"LineItemGroupIndex":1,"LineItems":[${lineItems.mkString(",")}]}]}]}"""
  }

  /** A small receipt response (vendor, total, subtotal, tax, an `OTHER`
    * label and one line item) written as `name` into a fresh temp
    * directory; `readResponses` gives it the img_id of `name`'s stem.
    */
  def tempFile(name: String): Path = {
    val f = Files.createTempDirectory("graft_textract").resolve(name)
    Files.write(f, response(Seq(
      ("VENDOR_NAME", None, "CVS pharmacy"),
      ("OTHER", Some("CHARGE"), "16.76"),
      ("TOTAL", Some("TOTAL"), "$16.76"),
      ("SUBTOTAL", Some("SUBTOTAL"), "15.28"),
      ("TAX", Some("MO 9.679% TAX"), "1.48")),
      Seq(("CVS H/C PATCH SM", "$6.99", "1"))).getBytes(StandardCharsets.UTF_8))
  }
}
