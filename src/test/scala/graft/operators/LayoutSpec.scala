package graft.operators

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import Layout.{Bucket, Time, Truncate}
import VersionedTable.{BucketStat, DaysStat, ManifestEntry, TruncStrStat}

/** [[Layout]] — the one layout model: its sidecar text, DDL transform,
  * write-option and manifest-token forms, and the exclusion rule
  * between layout write options.
  */
class LayoutSpec extends SparkSuite {

  /** (kind, spec, layout) for every kind, with the `_layout` sidecar
    * spec text tables already on disk carry.
    */
  private val cases = Seq(
    ("bucket", "8:k", Bucket(8, Seq("k"))),
    ("bucket", "4:k1,k2", Bucket(4, Seq("k1", "k2"))),
    ("truncate", "100:k", Truncate(100, "k")),
    ("years", "ts", Time("years", "ts")),
    ("months", "ts", Time("months", "ts")),
    ("days", "ts", Time("days", "ts")),
    ("hours", "ts", Time("hours", "ts")))

  private def sidecar(base: String) = Paths.get(base, "_log", "_layout")

  test("parse and render round-trip every kind to the sidecar bytes") {
    cases.foreach { case (kind, spec, layout) =>
      assert(Layout.parse(kind, spec) === layout)
      assert(layout.render === spec)
      // written: byte-identical `<kind>\t<spec>` line, the sort line kept
      val base = TempDirs.scoped("layout_bytes")
      VersionedTable.declareSortWithin(base, Seq("v"))
      VersionedTable.declareLayout(base, layout)
      assert(new String(Files.readAllBytes(sidecar(base)), "UTF-8") ===
        s"$kind\t$spec\nsortwithin\tv\n")
      // read: a sidecar already on disk declares the same layout
      val old = TempDirs.scoped("layout_read")
      Files.createDirectories(sidecar(old).getParent)
      Files.write(sidecar(old),
        s"$kind\t$spec\nsortwithin\tv\n".getBytes("UTF-8"))
      assert(VersionedTable.declaredLayout(old) === Some(layout))
      assert(VersionedTable.declaredSortWithin(old) === Seq("v"))
    }
  }

  test("malformed specs are refused with their message") {
    def refused(kind: String, spec: String, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Layout.parse(kind, spec))
      assert(e.getMessage.contains(msg), s"$kind '$spec': ${e.getMessage}")
    }
    val bucketMsg = "bucket layout spec must be '<numBuckets>:<col[,col2]>'"
    val truncMsg = "truncate layout spec must be '<width>:<col>'"
    val timeMsg = "days layout spec must be a single timestamp column name"
    refused("bucket", "0:k", bucketMsg)
    refused("bucket", "ab:k", bucketMsg)
    refused("bucket", "99999999999:k", bucketMsg)
    refused("bucket", "-4:k", bucketMsg)
    refused("bucket", "4:", bucketMsg)
    refused("bucket", "k", bucketMsg)
    refused("bucket", "4:k\tv", bucketMsg)
    refused("bucket", "4:k\nv", bucketMsg)
    refused("truncate", "0:k", truncMsg)
    refused("truncate", "ab:k", truncMsg)
    refused("truncate", "10:k,v", truncMsg)
    refused("truncate", "10:k\tv", truncMsg)
    refused("truncate", "10:k\nv", truncMsg)
    refused("truncate", "10:", truncMsg)
    refused("days", "ts,v", timeMsg)
    refused("days", "ts\tv", timeMsg)
    refused("days", "ts\nv", timeMsg)
    refused("days", " ", timeMsg)
    refused("weeks", "ts",
      "layout kind must be bucket|truncate|years|months|days|hours, " +
        "got 'weeks'")
    // declareLayout validates a layout built in code the same way
    intercept[IllegalArgumentException] {
      VersionedTable.declareLayout(TempDirs.scoped("layout_bad"),
        Bucket(0, Seq("k")))
    }
  }

  test("fromTransform agrees with parse for each DDL transform") {
    def ddl(t: Transform) = Layout.fromTransform(Array(t))
    assert(ddl(Expressions.bucket(8, "k")) ===
      Some(Layout.parse("bucket", "8:k")))
    assert(ddl(Expressions.bucket(4, "k1", "k2")) ===
      Some(Layout.parse("bucket", "4:k1,k2")))
    assert(ddl(Expressions.apply("truncate", Expressions.literal(100),
      Expressions.column("k"))) === Some(Layout.parse("truncate", "100:k")))
    assert(ddl(Expressions.years("ts")) === Some(Layout.parse("years", "ts")))
    assert(ddl(Expressions.months("ts")) === Some(Layout.parse("months", "ts")))
    assert(ddl(Expressions.days("ts")) === Some(Layout.parse("days", "ts")))
    assert(ddl(Expressions.hours("ts")) === Some(Layout.parse("hours", "ts")))
    assert(Layout.fromTransform(Array.empty) === None)
    val e = intercept[UnsupportedOperationException] {
      ddl(Expressions.identity("k"))
    }
    assert(e.getMessage.contains("bucket(n, col...)"), e.getMessage)
    intercept[IllegalArgumentException] {
      Layout.fromTransform(
        Array(Expressions.days("ts"), Expressions.hours("ts")))
    }
    intercept[IllegalArgumentException](ddl(Expressions.bucket(0, "k")))
    // the scan's transforms are the same transform family
    assert(Bucket(4, Seq("k1", "k2")).toTransforms.map(_.describe).toSeq ===
      Seq("bucket(4, k1)", "bucket(4, k2)"))
    assert(Time("hours", "ts").toTransforms.map(_.describe).toSeq ===
      Seq("hours(ts)"))
    assert(Truncate(100, "k").toTransforms.map(_.name).toSeq ===
      Seq("truncate_100"))
  }

  /** Every layout option with a value it accepts alone. */
  private val layoutOpts = Seq("bucketBy" -> "4:k", "truncateBy" -> "10:k",
    "yearsBy" -> "ts", "monthsBy" -> "ts", "daysBy" -> "ts",
    "hoursBy" -> "ts")
  private val rivalOpts = Seq("clusterBy" -> "k", "zorderCols" -> "a,b",
    "numFiles" -> "2")

  private def fromOptions(kv: (String, String)*): Option[Layout] =
    Layout.fromOptions(new CaseInsensitiveStringMap(kv.toMap.asJava))

  test("option matrix: one partition layout per write") {
    layoutOpts.foreach { o =>
      assert(fromOptions(o).isDefined, o)
      // option names are case-insensitive, like every write option
      assert(fromOptions(o._1.toLowerCase -> o._2) === fromOptions(o))
    }
    val refusedPairs =
      layoutOpts.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq ++
        (for (a <- layoutOpts; b <- rivalOpts) yield (a, b))
    assert(refusedPairs.size === 15 + 18)
    refusedPairs.foreach { case (a, b) =>
      val e = intercept[IllegalArgumentException](fromOptions(a, b))
      assert(e.getMessage.contains("mutually exclusive") &&
        e.getMessage.contains(a._1) && e.getMessage.contains(b._1),
        s"$a + $b: ${e.getMessage}")
    }
    // a within-layout sort composes with a layout
    assert(fromOptions("bucketBy" -> "4:k", "sortWithinBuckets" -> "ts") ===
      Some(Bucket(4, Seq("k"))))
    assert(fromOptions("daysBy" -> "ts", "sortWithinBuckets" -> "k") ===
      Some(Time("days", "ts")))
    assert(fromOptions("clusterBy" -> "k", "numFiles" -> "2") === None)
    // a malformed value names its option
    val e = intercept[IllegalArgumentException](
      fromOptions("bucketBy" -> "ab:k"))
    assert(e.getMessage.contains("write option bucketBy"), e.getMessage)
  }

  test("manifest tokens decode to one layout per file and per snapshot") {
    def entry(stats: (String, VersionedTable.Stat)*) =
      ManifestEntry("d1/f.parquet", stats.toMap)
    val grid = entry("k2#bucket" -> BucketStat(4, 1),
      "k1#bucket" -> BucketStat(4, 3))
    assert(Layout.ofEntry(grid) === Some(Bucket(4, Seq("k1", "k2"))))
    assert(Bucket(4, Seq("k1", "k2")).keyOf(grid) === Seq(3, 1))
    assert(Layout.ofEntry(entry("ts#hours" -> DaysStat(7))) ===
      Some(Time("hours", "ts")))
    assert(Layout.ofEntry(entry("u#trunc" -> TruncStrStat(3, "abc"))) ===
      Some(Truncate(3, "u")))
    // unlaid, disagreeing counts, two time tokens, two kinds: no layout
    assert(Layout.ofEntry(entry()) === None)
    assert(Layout.ofEntry(entry("a#bucket" -> BucketStat(4, 0),
      "b#bucket" -> BucketStat(8, 0))) === None)
    assert(Layout.ofEntry(entry("ts#days" -> DaysStat(1),
      "ts#hours" -> DaysStat(24))) === None)
    assert(Layout.ofEntry(entry("k#bucket" -> BucketStat(4, 0),
      "ts#days" -> DaysStat(1))) === None)
    // a snapshot: every file the same layout, else None
    val d = entry("ts#days" -> DaysStat(1))
    assert(Layout.of(Seq(d, entry("ts#days" -> DaysStat(2)))) ===
      Some(Time("days", "ts")))
    assert(Layout.of(Seq(d, entry())) === None)
    assert(Layout.of(Seq(d, entry("ts#months" -> DaysStat(0)))) === None)
    assert(Layout.of(Seq.empty) === None)
  }

  test("a manifest already on disk reads back with the same layout claim") {
    // manifest lines in the on-disk token format, published directly
    def claim(lines: String*): Option[Layout] = {
      val base = TempDirs.scoped("layout_manifest")
      VersionedTable.publish(base, 1L,
        ("#op=append" +: lines.map("+" + _)).mkString("", "\n", "\n"))
      Layout.of(VersionedTable.entries(base, 1L))
    }
    assert(claim("d1/a.parquet\tk1#bucket=B:4:0\tk2#bucket=B:4:1",
      "d1/b.parquet\tk1#bucket=B:4:2\tk2#bucket=B:4:2") ===
      Some(Bucket(4, Seq("k1", "k2"))))
    assert(claim("d1/a.parquet\tts#days=D:19000",
      "d1/b.parquet\tts#days=D:19001") === Some(Time("days", "ts")))
    assert(claim("d1/a.parquet\tk#trunc=T:100:L:200") ===
      Some(Truncate(100, "k")))
    assert(claim("d1/a.parquet\tk#bucket=B:4:0", "d1/b.parquet\tk=1..9") ===
      None)
  }

  test("malformed numeric write options name the option") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 2L)).toDF("k", "v")
    def refused(opt: String, v: String): Unit = {
      val base = TempDirs.scoped("layout_opts")
      val e = intercept[Exception] {
        df.write.format("graft").option(opt, v).mode("append").save(base)
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains(opt) && !chain.contains("For input string"),
        s"$opt=$v: $chain")
      assert(VersionedTable.latestVersion(base) === None)
    }
    refused("bucketBy", "ab:k")
    refused("bucketBy", "99999999999:k")
    refused("truncateBy", "ab:k")
    refused("numFiles", "x")
    refused("numFiles", "0")
  }
}
