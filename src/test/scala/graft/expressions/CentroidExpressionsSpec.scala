package graft.expressions

import graft.SparkSuite
import graft.operators.KMeans
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pins the r17 native centroid-assignment expressions to the HOF folds
  * they replaced: same rows on dense data AND on every edge the fold's
  * null algebra defines (ties → lowest cid, null array / null element /
  * wrong length → the initial accumulator).
  */
class CentroidExpressionsSpec extends SparkSuite {

  import spark.implicits._

  /** The pre-r17 HOF fold, verbatim — the reference semantics. */
  private def foldAssign(q: Column, c: KMeans.Centroids): Column = {
    val cents = typedlit(c.map { case (cid, cq) => (cid, cq) })
    aggregate(cents,
      struct(lit(Long.MaxValue).as("dist"), lit(-1L).as("cid")),
      (acc, cent) => {
        val d = aggregate(
          zip_with(q, cent.getField("_2"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v)
        when(d < acc.getField("dist"),
          struct(d.as("dist"), cent.getField("_1").as("cid")))
          .otherwise(acc)
      })
  }

  private val cents: KMeans.Centroids = Seq(
    1L -> Seq(0L, 0L, 0L),
    2L -> Seq(10L, 10L, 10L),
    // duplicate of cid 2's position: distance ties must keep cid 2
    5L -> Seq(10L, 10L, 10L),
    9L -> Seq(-5L, 3L, 100L))

  private val c3: Seq[(Long, Seq[Double], Double)] = Seq(
    (1L, Seq(1.0, 0.0), 1.0),
    (4L, Seq(0.0, 1.0), 1.0),
    // same direction as cid 1: cosine ties must keep the lower cid
    // first (strict > iteration order)
    (7L, Seq(2.0, 0.0), 2.0))

  private def top2(emb: Column, nrm: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      Top2CentroidCos(
        org.apache.spark.sql.GraftBridge.expression(emb),
        org.apache.spark.sql.GraftBridge.expression(nrm), c3))

  test("NearestCentroid equals the HOF fold on dense, tied and edge rows") {
    val rows = Seq(
      (1L, Seq(1L, 1L, 1L)),            // nearest cid 1
      (2L, Seq(10L, 10L, 9L)),          // nearest cid 2, tie with 5
      (3L, Seq(10L, 10L, 10L)),         // exact tie 2 vs 5 -> 2
      (4L, Seq(-5L, 3L, 99L)),          // nearest 9
      (5L, Seq(7L, 7L, 7L)))            // between 1 and 2
      .toDF("id", "q")
    val both = rows.select(col("id"),
      KMeans.assignStruct(col("q"), cents).as("native"),
      foldAssign(col("q"), cents).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).isEmpty,
      both.collect().mkString("\n"))
  }

  test("NearestCentroid reproduces the fold's null algebra") {
    val rows = Seq(
      (1L, Seq[java.lang.Long](1L, null, 1L)),      // null element
      (2L, Seq[java.lang.Long](1L, 2L)),            // wrong length
      (3L, null))                                   // null array
      .toDF("id", "q")
    val out = rows.select(col("id"),
      KMeans.assignStruct(col("q"), cents).as("native"),
      foldAssign(col("q"), cents).as("fold")).collect()
    out.foreach { r =>
      val n = r.getStruct(1)
      assert(n.getLong(0) == Long.MaxValue && n.getLong(1) == -1L,
        s"row ${r.getLong(0)}: native $n")
      assert(n == r.getStruct(2), s"row ${r.getLong(0)}: fold ${r.getStruct(2)}")
    }
  }

  test("Top2CentroidCos equals the HOF fold incl. ties and null edges") {
    def foldTop2(emb: Column, nrm: Column): Column = {
      val centsLit = typedlit(c3)
      aggregate(centsLit,
        struct(lit(Double.NegativeInfinity).as("c1"), lit(-1L).as("cid1"),
          lit(Double.NegativeInfinity).as("c2"), lit(-1L).as("cid2")),
        (acc, c) => {
          val cos = graft.functions.VectorFunctions
            .dotNative(emb, c.getField("_2")) / (nrm * c.getField("_3"))
          when(cos > acc.getField("c1"),
            struct(cos.as("c1"), c.getField("_1").as("cid1"),
              acc.getField("c1").as("c2"), acc.getField("cid1").as("cid2")))
            .when(cos > acc.getField("c2"),
              struct(acc.getField("c1").as("c1"),
                acc.getField("cid1").as("cid1"),
                cos.as("c2"), c.getField("_1").as("cid2")))
            .otherwise(acc)
        })
    }
    val rows = Seq(
      (1L, Seq(3.0, 1.0), math.sqrt(10.0)),
      (2L, Seq(1.0, 0.0), 1.0),            // cos tie between cid 1 and 7
      (3L, Seq(0.0, 2.0), 2.0),
      (4L, Seq(1.0, 1.0), math.sqrt(2.0)))
      .toDF("id", "emb", "nrm")
    val both = rows.select(col("id"),
      top2(col("emb"), col("nrm")).as("native"),
      foldTop2(col("emb"), col("nrm")).as("fold"))
    assert(both.filter(col("native") =!= col("fold")).isEmpty,
      both.collect().mkString("\n"))
    // null edges: null element / wrong length / null array / null norm
    val edges = Seq(
      (1L, Seq[java.lang.Double](1.0, null), java.lang.Double.valueOf(1.0)),
      (2L, Seq[java.lang.Double](1.0, 2.0, 3.0), java.lang.Double.valueOf(1.0)),
      (3L, null, java.lang.Double.valueOf(1.0)),
      (4L, Seq[java.lang.Double](1.0, 0.0), null: java.lang.Double))
      .toDF("id", "emb", "nrm")
    edges.select(top2(col("emb"), col("nrm")).as("n")).collect().foreach { r =>
      val s = r.getStruct(0)
      assert(s.getDouble(0) == Double.NegativeInfinity && s.getLong(1) == -1L
        && s.getDouble(2) == Double.NegativeInfinity && s.getLong(3) == -1L, s.toString)
    }
  }

  test("compiled (doGenCode) and interpreted (eval) paths agree") {
    // r18: the expressions gained doGenCode; pin the two execution
    // paths against each other on dense, tied and null-edge rows —
    // NO_CODEGEN forces Catalyst's interpreted projections (eval()),
    // the default config compiles the generated Java.
    val rows = Seq(
      (1L, Seq[java.lang.Long](1L, 1L, 1L)),
      (2L, Seq[java.lang.Long](10L, 10L, 10L)),  // exact tie 2 vs 5
      (3L, Seq[java.lang.Long](1L, null, 1L)),   // null element
      (4L, Seq[java.lang.Long](1L, 2L)),         // wrong length
      (5L, null))                                // null array
      .toDF("id", "q")
    // Top2CentroidCos over dense, tied, null-element, wrong-length,
    // null-array and null-norm rows
    val embRows = Seq(
      (1L, Seq[java.lang.Double](3.0, 1.0), java.lang.Double.valueOf(math.sqrt(10.0))),
      (2L, Seq[java.lang.Double](1.0, 0.0), java.lang.Double.valueOf(1.0)),  // tie 1 vs 7
      (3L, Seq[java.lang.Double](1.0, null), java.lang.Double.valueOf(1.0)), // null element
      (4L, Seq[java.lang.Double](1.0, 2.0, 3.0), java.lang.Double.valueOf(1.0)), // wrong length
      (5L, null, java.lang.Double.valueOf(1.0)),                             // null array
      (6L, Seq[java.lang.Double](1.0, 0.0), null: java.lang.Double))         // null norm
      .toDF("id", "emb", "nrm")
    // the repartition keeps each projection off its LocalRelation:
    // ConvertToLocalRelation would otherwise run it through eval() at
    // optimization time in the compiled run too
    def run(): Seq[String] =
      rows.repartition(2)
        .select(col("id"), KMeans.assignStruct(col("q"), cents).as("m"))
        .orderBy(col("id")).collect().map(_.toString).toSeq ++
      embRows.repartition(2)
        .select(col("id"), top2(col("emb"), col("nrm")).as("t"))
        .orderBy(col("id")).collect().map(_.toString).toSeq
    val compiled = run()
    val keys = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(run() == compiled)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
