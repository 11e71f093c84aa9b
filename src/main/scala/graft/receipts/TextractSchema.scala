package graft.receipts

import org.apache.spark.sql.types._

/** Declared Spark schema for the AWS Textract `analyze_expense` response
  * (shape observed in the reference fixtures
  * `/root/reference/output1.json`, documented in FIXTURES.md §A.1).
  *
  * Declaring the full nested schema — instead of schema inference — keeps
  * reads single-pass. It does not prune: Spark drops unread nested
  * fields at the scan for Parquet/ORC, not for JSON, and never narrows a
  * `from_json` read through an explode, so the batch `readResponses`
  * path parses every Geometry subtree (BoundingBox + Polygon, ~80% of
  * the bytes). Consumers that read less parse with a narrower schema
  * derived from this one: [[summaries]].
  */
object TextractSchema {

  /** Geometry: BoundingBox + Polygon (read by no downstream operator —
    * reference `anarcptlib.py:20-25` projects only Text/Confidence).
    */
  val geometry: StructType = StructType(Seq(
    StructField("BoundingBox", StructType(Seq(
      StructField("Height", DoubleType),
      StructField("Left", DoubleType),
      StructField("Top", DoubleType),
      StructField("Width", DoubleType)))),
    StructField("Polygon", ArrayType(StructType(Seq(
      StructField("X", DoubleType),
      StructField("Y", DoubleType)))))))

  /** Text + model confidence: all a summary consumer reads of a span. */
  val textConf: StructType = StructType(Seq(
    StructField("Text", StringType),
    StructField("Confidence", DoubleType)))

  /** One detected text span: text + model confidence + geometry. */
  val detection: StructType =
    StructType(textConf.fields :+ StructField("Geometry", geometry))

  /** One expense field: Type tag + optional label detection + value
    * detection (reference `anarcptlib.py:20-25`; same struct is reused
    * for SummaryFields and LineItemExpenseFields).
    */
  val expenseField: StructType = StructType(Seq(
    StructField("PageNumber", IntegerType),
    StructField("Type", textConf),
    StructField("LabelDetection", detection),
    StructField("ValueDetection", detection)))

  /** Full analyze_expense response document. */
  val response: StructType = StructType(Seq(
    StructField("DocumentMetadata", StructType(Seq(
      StructField("Pages", IntegerType)))),
    StructField("ExpenseDocuments", ArrayType(StructType(Seq(
      StructField("ExpenseIndex", IntegerType),
      StructField("SummaryFields", ArrayType(expenseField)),
      StructField("LineItemGroups", ArrayType(StructType(Seq(
        StructField("LineItemGroupIndex", IntegerType),
        StructField("LineItems", ArrayType(StructType(Seq(
          StructField("LineItemExpenseFields", ArrayType(expenseField))))))))))))))))

  /** What the summary consumers read (`ReceiptPipeline.flattenSummary`):
    * `ExpenseDocuments → SummaryFields → Type / LabelDetection /
    * ValueDetection {Text, Confidence}`. No Geometry, no line items.
    */
  val summaries: StructType = StructType(Seq(
    StructField("ExpenseDocuments", ArrayType(StructType(Seq(
      StructField("SummaryFields", ArrayType(StructType(Seq(
        StructField("Type", textConf),
        StructField("LabelDetection", textConf),
        StructField("ValueDetection", textConf)))))))))))
}
