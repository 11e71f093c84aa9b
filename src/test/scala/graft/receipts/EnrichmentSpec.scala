package graft.receipts

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** `Enrichment.parse` reads only [[TextractSchema.summaries]]: the
  * receipts it yields equal those of a full-schema parse, on well-formed,
  * type-malformed and truncated responses, and the watch sink's plan
  * parses neither Geometry nor line items. Fixture-free.
  */
class EnrichmentSpec extends SparkSuite {
  import TextractJson._

  private def fields(n: Int): Seq[(String, Option[String], String)] = Seq(
    ("VENDOR_NAME", None, s"Shop $n"),
    ("OTHER", Some("CASHIER"), "Ann"),
    ("INVOICE_RECEIPT_DATE", Some("DATE"), "02/19/2022"),
    ("SUBTOTAL", Some("SUBTOTAL"), s"$$$n.00"),
    ("TAX", Some("TAX"), "$0.50"),
    ("TOTAL", Some("TOTAL"), s"$$$n.50"),
    ("OTHER", Some("STORE"), s"#$n"),
    ("OTHER", Some("CASHIER"), s"Bob $n"))

  private val items = Seq(("PATCH SM", "$6.99", "1"), ("PATCH XL", "8.29T", "F 1"))

  private def responses(geometry: String): Seq[(String, String)] =
    (1 to 3).map(n => (s"img_$n", response(fields(n), items, geometry)))

  private def viaFullSchema(df: DataFrame): DataFrame =
    df.select(col("img_id"),
        from_json(col("response"), TextractSchema.response).as("r"))
      .select(col("img_id"), col("r.*"))

  private def receipts(parsed: DataFrame): Seq[Row] =
    ReceiptPipeline.summarize(ReceiptPipeline.flattenSummary(parsed))
      .orderBy("img_id").collect().toSeq

  private val kinds = Seq(
    "well-formed" -> responses(Geometry),
    "type-malformed Geometry" -> responses(MalformedGeometry),
    // cut inside the summary fields
    "truncated" -> responses(Geometry).map { case (id, r) =>
      (id, r.take(r.indexOf("LineItemGroups") / 2)) })

  for ((kind, rows) <- kinds)
    test(s"summary-subtree parse yields the full schema's receipts: $kind") {
      import spark.implicits._
      val df = rows.toDF("img_id", "response")
      val got = receipts(Enrichment.parse(df))
      assert(got === receipts(viaFullSchema(df)))
      if (kind != "truncated") {
        // the texts survive a Geometry of the wrong type
        assert(got.map(_.getAs[String]("vendor_name")) === Seq("Shop 1", "Shop 2", "Shop 3"))
        assert(got.map(r => BigDecimal(r.getAs[java.math.BigDecimal]("total"))) ===
          Seq(BigDecimal("1.50"), BigDecimal("2.50"), BigDecimal("3.50")))
        assert(got.head.getAs[Map[String, String]]("other_data") ===
          Map("CASHIER" -> "Bob 1", "STORE" -> "#1"))
      }
    }

  test("the watch sink chain's from_json names no Geometry and no line items") {
    import spark.implicits._
    val json = response(fields(1), items)
    val analyzer = new ExpenseAnalyzer { def open() = (_, _) => json }
    val images = Seq(("img_1", Array[Byte](1))).toDF("img_id", "content")
    val chain = ReceiptPipeline.summarize(ReceiptPipeline.flattenSummary(
      Enrichment.parse(Enrichment.analyze(images, analyzer))))
    val schemas = chain.queryExecution.optimizedPlan.flatMap(
      _.expressions.flatMap(_.collect { case j: JsonToStructs => j.dataType.catalogString }))
    assert(schemas.nonEmpty)
    for (s <- schemas; name <- Seq("Geometry", "Polygon", "LineItemGroups"))
      assert(!s.contains(name), s)
  }
}
