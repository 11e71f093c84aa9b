package graft.receipts

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** U2 — the external-enrichment seam (reference: boto3
  * `textract.analyze_expense`, `anarcptlib.py:113,121,128-131`). The
  * remote ML call is I/O, not compute, so it lives behind an interface:
  * `open()` runs once per partition (the client-per-worker shape —
  * connection reuse, no per-row setup) and returns the per-image call.
  * Tests and the offline pipeline plug in [[FixtureAnalyzer]]; a real
  * deployment would supply an implementation that holds an HTTP client.
  */
trait ExpenseAnalyzer extends Serializable {
  /** Per-partition initialization; returns (imgId, imageBytes) → raw
    * analyze_expense response JSON.
    */
  def open(): (String, Array[Byte]) => String
}

/** Deterministic offline implementation: replays a captured
  * analyze_expense response (the reference's own dev fixture — the only
  * real responses that exist) for every image.
  */
final class FixtureAnalyzer(path: String = FixtureAnalyzer.resolve())
    extends ExpenseAnalyzer {
  def open(): (String, Array[Byte]) => String = {
    val json = FixtureAnalyzer.load(path)
    (_, _) => json
  }
}

/** Default-fixture resolution so the shipped CLI is not bound to this
  * dev container's read-only reference checkout: an explicit
  * `GRAFT_FIXTURE` env var wins, then a bundled classpath resource
  * (`classpath:/fixtures/analyze_expense.json` — a deployment packages
  * its own capture there), then the dev-container path as documented
  * fallback. Resolution happens ONCE on the driver at construction;
  * `load` runs wherever `open()` runs, so a filesystem path must be
  * visible to executors on a real cluster.
  */
object FixtureAnalyzer {
  private[graft] val EnvVar = "GRAFT_FIXTURE"
  private val Resource = "/fixtures/analyze_expense.json"
  private val DevPath = "/root/reference/output1.json"
  private val ClasspathPrefix = "classpath:"

  def resolve(): String =
    sys.env.get(EnvVar)
      .orElse(Option(getClass.getResource(Resource))
        .map(_ => ClasspathPrefix + Resource))
      .getOrElse(DevPath)

  def load(path: String): String =
    if (path.startsWith(ClasspathPrefix)) {
      val in = getClass.getResourceAsStream(path.stripPrefix(ClasspathPrefix))
      require(in != null, s"missing classpath resource $path")
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    } else new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
}

object Enrichment {

  /** (img_id, content) → (img_id, response). mapPartitions, not a UDF:
    * the analyzer opens one "client" per partition and streams rows
    * through it.
    */
  def analyze(images: DataFrame, analyzer: ExpenseAnalyzer): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("img_id"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val client = analyzer.open()
        it.map { case (id, bytes) => (id, client(id, bytes)) }
      }
      .toDF("img_id", "response")
  }

  /** Parse raw response JSON into (img_id, ExpenseDocuments), keeping
    * only the summary subtree ([[TextractSchema.summaries]]): all that
    * `ReceiptPipeline.flattenSummary` reads. The parser skips Geometry
    * and line items instead of building them; every caller feeds
    * flatten → summarize.
    */
  def parse(responses: DataFrame): DataFrame =
    responses
      .select(col("img_id"),
        from_json(col("response"), TextractSchema.summaries).as("r"))
      .select(col("img_id"), col("r.*"))
}
