package graft.receipts

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import ReceiptFunctions._

/** The receipt dataflow rebuilt Spark-first (SURVEY.md §2.2/§2.4/§2.5):
  * nested Textract responses → flattened field rows (P1) → one pivoted
  * `ReceiptSummary` per image (A1/A2) + a `ReceiptLineItem` child table
  * (A3) → equi-join or denormalized array column (J1).
  *
  * Scale notes: everything is one Catalyst plan per output table — the
  * explodes run inside whole-stage codegen, the pivot is a two-phase
  * hash aggregate on `img_id` (the only shuffle), and document order is
  * carried as explicit position columns so "last field wins" (the
  * reference's dict-overwrite semantics, `anarcptlib.py:56-76`) stays
  * deterministic under any partitioning — a bare `last()` would not be.
  */
object ReceiptPipeline {

  /** S6 — raw Textract JSON ingest: declared schema (no inference pass),
    * one response object per file; img_id = file stem, matching the
    * reference's `image_file.stem` / `key.split(".")[0]`
    * (`anarcptlib.py:120,127`).
    */
  def readResponses(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TextractSchema.response)
      .option("multiLine", "true")
      .json(path)
      .withColumn("img_id",
        regexp_extract(col("_metadata.file_name"), "^(.*)\\.[^.]+$", 1))

  /** P1 — nested multi-level projection + flatten (the jmespath query at
    * `anarcptlib.py:20-25`): two array explodes + 6-field struct
    * projection. Geometry is never referenced, but a JSON scan still
    * parses it (Spark prunes nested fields at the scan for Parquet/ORC
    * only), so `readResponses` input carries it; `Enrichment.parse`
    * input does not ([[TextractSchema.summaries]]). Positions are
    * retained for deterministic last-match pivoting.
    */
  def flattenSummary(responses: DataFrame): DataFrame =
    responses
      .select(col("img_id"), posexplode(col("ExpenseDocuments")).as(Seq("doc_pos", "ed")))
      .select(col("img_id"), col("doc_pos"),
        posexplode(col("ed.SummaryFields")).as(Seq("field_pos", "sf")))
      .select(
        col("img_id"), col("doc_pos"), col("field_pos"),
        col("sf.Type.Text").as("TypeText"),
        col("sf.Type.Confidence").as("TypeConfidence"),
        col("sf.LabelDetection.Text").as("LabelText"),
        col("sf.LabelDetection.Confidence").as("LabelConfidence"),
        col("sf.ValueDetection.Text").as("ValueText"),
        col("sf.ValueDetection.Confidence").as("ValueConfidence"))

  /** Last-in-document-order match of `value` where `cond` holds: max of
    * (position, value) structs — order-independent, so correct under any
    * partitioning (unlike `last(...)`, whose result depends on row
    * arrival order).
    */
  private def lastMatch(cond: Column, value: Column): Column =
    max(when(cond && value.isNotNull,
      struct(col("doc_pos"), col("field_pos"), value.as("v"))))
      .getField("v")

  /** A1/A2 — field rows → one receipt row. Per-type dispatch
    * (`anarcptlib.py:56-76`): recognized types become typed columns
    * (last match wins), `OTHER` rows accumulate into the `other_data`
    * map (insertion order = document order, duplicate labels last-wins,
    * mirroring the reference's dict overwrite). TOTAL is matched on
    * `TypeText == "TOTAL"` OR `LabelText == "Total"` (A2,
    * `anarcptlib.py:64-68`). Defaults per `models.py:10-16`.
    */
  def summarize(flat: DataFrame): DataFrame = {
    val otherEntry =
      when(col("TypeText") === "OTHER" && col("ValueText") =!= "" &&
           col("ValueText").isNotNull && col("LabelText").isNotNull,
        struct(col("doc_pos"), col("field_pos"),
               col("LabelText").as("k"), col("ValueText").as("v")))
    flat.groupBy(col("img_id"))
      .agg(
        lastMatch(col("TypeText") === "VENDOR_NAME", cleanValue(col("ValueText"))).as("vendor_raw"),
        lastMatch(col("TypeText") === "RECEIVER_ADDRESS", cleanValue(col("ValueText"))).as("receiver_address"),
        lastMatch(col("TypeText") === "INVOICE_RECEIPT_DATE", cleanValue(col("ValueText"))).as("date_raw"),
        lastMatch(col("TypeText") === "SUBTOTAL", cleanValue(col("ValueText"))).as("sub_total_raw"),
        lastMatch(col("TypeText") === "TOTAL" || col("LabelText") === "Total",
          cleanValue(col("ValueText"))).as("total_raw"),
        lastMatch(col("TypeText") === "TAX", cleanValue(col("ValueText"))).as("tax_raw"),
        max(col("ValueText").contains("$")).as("saw_dollar"),
        sort_array(collect_list(otherEntry)).as("other_entries"))
      .select(
        col("img_id"),
        coalesce(col("vendor_raw"), lit("Unknown")).as("vendor_name"),
        col("receiver_address"),
        fuzzyDate(col("date_raw")).as("receipt_date"),
        coalesce(moneyVal(col("total_raw")), lit(0).cast("decimal(6,2)")).as("total"),
        coalesce(moneyVal(col("sub_total_raw")), lit(0).cast("decimal(6,2)")).as("sub_total"),
        coalesce(moneyVal(col("tax_raw")), lit(0).cast("decimal(6,2)")).as("tax_amount"),
        currencyOf(col("saw_dollar")).as("currency"),
        // duplicate labels: entries are position-sorted, aggregate keeps
        // the later value (reference dict overwrite, anarcptlib.py:75)
        aggregate(col("other_entries"),
          map().cast("map<string,string>"),
          (acc, e) => map_concat(
            map_filter(acc, (k, _) => k =!= e.getField("k")),
            map(e.getField("k"), e.getField("v")))).as("other_data"))
  }

  /** A3 — line items, extracted directly from the nested JSON (the
    * reference detours through a rendered CSV, `anarcptlib.py:81-108`;
    * SURVEY.md §2.1 S7 records why that detour is unnecessary here).
    * Field vocabulary per `output.json`: ITEM / PRICE / QUANTITY /
    * EXPENSE_ROW. Cleaning parity: `(TAG)` strip + trim (F5), money
    * regex on price (F1), int-or-1 quantity (F6), `Unknown` item default
    * (`models.py:27`).
    */
  /** Raw (uncleaned) line-item field rows — the shared source for the
    * direct path (A3) and the CSV-parity path (S7).
    */
  def rawLineItemRows(responses: DataFrame): DataFrame = {
    def fieldOf(tag: String): Column =
      element_at(
        filter(col("item.LineItemExpenseFields"),
          f => f.getField("Type").getField("Text") === tag), 1)
        .getField("ValueDetection").getField("Text")
    responses
      .select(col("img_id"), posexplode(col("ExpenseDocuments")).as(Seq("doc_pos", "ed")))
      .select(col("img_id"), col("doc_pos"),
        posexplode(col("ed.LineItemGroups")).as(Seq("grp_pos", "grp")))
      .select(col("img_id"), col("doc_pos"), col("grp_pos"),
        posexplode(col("grp.LineItems")).as(Seq("item_pos", "item")))
      .select(
        col("img_id"), col("doc_pos"), col("grp_pos"), col("item_pos"),
        fieldOf("ITEM").as("item_raw"),
        fieldOf("PRICE").as("price_raw"),
        fieldOf("QUANTITY").as("qty_raw"))
  }

  private def cleanItems(raw: DataFrame, item: Column, price: Column,
                         qty: Column): DataFrame =
    raw.select(
      col("img_id"), col("doc_pos"), col("grp_pos"), col("item_pos"),
      coalesce(stripFieldTag(item), lit("Unknown")).as("item_name"),
      coalesce(moneyVal(stripFieldTag(price)),
        lit(0).cast("decimal(6,2)")).as("price"),
      quantityOrDefault(qty).as("quantity"))

  def lineItems(responses: DataFrame): DataFrame =
    cleanItems(rawLineItemRows(responses),
      col("item_raw"), col("price_raw"), col("qty_raw"))

  /** S7 — line-item CSV parity (reference `anarcptlib.py:28-32,83-84`:
    * textract-prettyprinter renders LineItemGroups to CSV, `csv.reader`
    * re-parses). The render is `to_csv` (proper quoting for commas in
    * item names), the re-parse `from_csv`, with the same P2 empty-row
    * filter and F5/F6 cleaning applied post-parse. `itemsViaCsv` must
    * equal `lineItems` exactly (ReceiptPipelineSpec).
    */
  def renderItemsCsv(responses: DataFrame): DataFrame =
    rawLineItemRows(responses)
      .select(col("img_id"), col("doc_pos"), col("grp_pos"), col("item_pos"),
        to_csv(struct(col("item_raw"), col("price_raw"), col("qty_raw")))
          .as("line"))

  def itemsViaCsv(csvRows: DataFrame): DataFrame = {
    val parsed = csvRows
      .filter(length(trim(col("line"))) > 0) // P2 — empty-row filter
      .withColumn("f", from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "item_raw STRING, price_raw STRING, qty_raw STRING"),
        Map.empty[String, String]))
    cleanItems(parsed,
      col("f.item_raw"), col("f.price_raw"), col("f.qty_raw"))
  }

  /** Typed views of the two output tables. */
  def summaries(responses: DataFrame): Dataset[ReceiptSummary] = {
    val spark = responses.sparkSession
    import spark.implicits._
    summarize(flattenSummary(responses)).as[ReceiptSummary]
  }

  def items(responses: DataFrame): Dataset[ReceiptLineItem] = {
    val spark = responses.sparkSession
    import spark.implicits._
    lineItems(responses)
      .select(col("img_id"), col("item_name"), col("price"), col("quantity"))
      .as[ReceiptLineItem]
  }

  /** J1 — summary↔line-items 1:N relationship (`models.py:18,30-31`) as
    * an equi-join on the content-address key; Catalyst broadcasts the
    * smaller side automatically.
    */
  def joined(responses: DataFrame): DataFrame =
    summarize(flattenSummary(responses)).join(
      lineItems(responses).select("img_id", "item_name", "price", "quantity"),
      Seq("img_id"), "left")

  /** J1 denormalized variant: line items as a nested array column — the
    * columnar-friendly shape for wide scans at 100 TB (no join at read
    * time).
    */
  def denormalized(responses: DataFrame): DataFrame =
    summarize(flattenSummary(responses)).join(
      lineItems(responses)
        .groupBy(col("img_id"))
        .agg(sort_array(collect_list(struct(
          col("doc_pos"), col("grp_pos"), col("item_pos"),
          col("item_name"), col("price"), col("quantity")))).as("line_items")),
      Seq("img_id"), "left")
}
