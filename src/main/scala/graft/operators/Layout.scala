package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, Transform}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import VersionedTable.{BucketStat, DaysStat, ManifestEntry, Stat, TruncStat, TruncStrStat}

/** A table's PARTITION LAYOUT — one of the Iceberg partition transforms
  * (https://iceberg.apache.org/spec/#partition-transforms), as ONE
  * value every layout consumer shares: the write options, the DDL
  * `PARTITIONED BY` transform, the `_log/_layout` sidecar, the commit
  * protocol, the per-file manifest tokens and the scan's
  * storage-partitioned-join claim.
  *
  *   - [[Layout.Bucket]]`(n, cols)` — hash buckets; several columns form
  *     a GRID (n buckets per key, one `<col>#bucket` token per key);
  *   - [[Layout.Time]]`(gran, col)` — `years|months|days|hours(ts)`, one
  *     `<col>#<gran>` token;
  *   - [[Layout.Truncate]]`(w, col)` — long floor / string prefix, one
  *     `<col>#trunc` token.
  *
  * Column names are whatever namespace the caller holds: logical for
  * write options, DDL and the sidecar, physical for manifest tokens
  * ([[mapCols]] converts).
  */
sealed trait Layout {
  def kind: String
  def cols: Seq[String]

  /** The sidecar spec: the text after `<kind>\t` on the `_layout` line. */
  def render: String

  /** The same layout over renamed columns; None when any column has no
    * image (a dropped or pruned column voids the layout).
    */
  def mapCols(f: String => Option[String]): Option[Layout] = {
    val mapped = cols.map(f)
    if (mapped.exists(_.isEmpty)) None
    else Some(this match {
      case b: Layout.Bucket => b.copy(cols = mapped.flatten)
      case t: Layout.Time => t.copy(col = mapped.head.get)
      case t: Layout.Truncate => t.copy(col = mapped.head.get)
    })
  }

  /** The manifest token name the layout records for column `c`. */
  private[operators] def token(c: String): String

  /** The per-file partition key, read off the entry's verified tokens in
    * internal row form (one value per column, in [[cols]] order).
    */
  def keyOf(e: ManifestEntry): Seq[Any]

  /** The scan's `KeyGroupedPartitioning` transforms over [[cols]] — one
    * single-leaf transform per key, the only shape Spark's
    * storage-partitioned join matches.
    */
  def toTransforms: Array[Transform]

  /** Per key column, the per-row partition value a written file must
    * hold exactly one of (the commit-time verifier's input).
    */
  private[operators] def keyExprs(dt: String => DataType): Seq[(String, Column)]

  /** The token a file records once its key column `c` verified to the
    * single value `lo == hi`; refuses a file that is not layout-pure.
    */
  private[operators] def verified(file: String, c: String, lo: Any,
                                  hi: Any): Stat
}

object Layout {

  final case class Bucket(n: Int, cols: Seq[String]) extends Layout {
    def kind: String = "bucket"
    def render: String = s"$n:${cols.mkString(",")}"
    private[operators] def token(c: String): String = s"$c#bucket"
    def keyOf(e: ManifestEntry): Seq[Any] =
      cols.map(c => e.stats(token(c)).asInstanceOf[BucketStat].id: Any)
    def toTransforms: Array[Transform] =
      cols.map(c => Expressions.bucket(n, c): Transform).toArray
    // `functions.hash` is Murmur3 seed 42 — the hash the write
    // partitioned on — so a bucket-pure file has min == max per key
    private[operators] def keyExprs(
        dt: String => DataType): Seq[(String, Column)] =
      cols.map(c => c -> pmod(hash(col(c)), lit(n)))
    private[operators] def verified(file: String, c: String, lo: Any,
                                    hi: Any): Stat = {
      require(lo == hi,
        s"bucketed write produced a MULTI-BUCKET file ($file: bucket ids " +
          s"$lo..$hi of $n on '$c') — refusing to record a co-location " +
          "claim the planner would elide shuffles on")
      BucketStat(n, lo.asInstanceOf[Int])
    }
  }

  final case class Time(gran: String, col: String) extends Layout {
    def kind: String = gran
    def cols: Seq[String] = Seq(col)
    def render: String = col
    private[operators] def token(c: String): String = s"$c#$gran"
    def keyOf(e: ManifestEntry): Seq[Any] =
      Seq(e.stats(token(col)).asInstanceOf[DaysStat].day)
    def toTransforms: Array[Transform] = Array(gran match {
      case "days" => Expressions.days(col)
      case "hours" => Expressions.hours(col)
      case "months" => Expressions.months(col)
      case "years" => Expressions.years(col)
    })
    // recomputed from the timestamp itself (the derived period column
    // never lands in the files)
    private[operators] def keyExprs(
        dt: String => DataType): Seq[(String, Column)] =
      Seq(col -> VersionedTable.timePeriodCol(gran,
        org.apache.spark.sql.functions.col(col)))
    private[operators] def verified(file: String, c: String, lo: Any,
                                    hi: Any): Stat = {
      // NULL timestamps land in their own default-partition file whose
      // extrema are null; recording it would be a FALSE verified period
      // SPJ groups on — a time layout requires a non-null column, like
      // Iceberg's source-column contract
      require(lo != null && hi != null,
        s"time-partitioned write has NULL '$c' timestamps ($file) — the " +
          s"$gran($c) layout requires a non-null partition column; filter " +
          "or fill nulls before committing")
      require(lo == hi,
        s"time-partitioned write produced a MULTI-PERIOD file ($file: " +
          s"$gran $lo..$hi on '$c') — refusing to record a co-location " +
          "claim the planner would elide shuffles on")
      DaysStat(lo.asInstanceOf[Int])
    }
  }

  final case class Truncate(w: Int, col: String) extends Layout {
    def kind: String = "truncate"
    def cols: Seq[String] = Seq(col)
    def render: String = s"$w:$col"
    private[operators] def token(c: String): String = s"$c#trunc"
    def keyOf(e: ManifestEntry): Seq[Any] = Seq(e.stats(token(col)) match {
      case TruncStat(_, v) => java.lang.Long.valueOf(v)
      case TruncStrStat(_, v) => UTF8String.fromString(v)
      case other => throw new IllegalStateException(
        s"${e.path}: '${token(col)}' is not a truncate token: $other")
    })
    // the WIDTH-PINNED single-arg transform (truncate_<w>(col)): a
    // literal width argument can never satisfy a join distribution, so
    // the width rides in the function name (GraftTruncateWidthFunction)
    def toTransforms: Array[Transform] =
      Array(Expressions.apply(s"truncate_$w", Expressions.column(col)))
    private[operators] def keyExprs(
        dt: String => DataType): Seq[(String, Column)] =
      Seq(col -> VersionedTable.truncCol(
        org.apache.spark.sql.functions.col(col), w, dt(col)))
    private[operators] def verified(file: String, c: String, lo: Any,
                                    hi: Any): Stat = {
      require(lo != null && hi != null,
        s"truncate-partitioned write has NULL '$c' keys ($file) — the " +
          s"truncate($w, $c) layout requires a non-null partition column; " +
          "filter or fill nulls before committing")
      require(lo == hi,
        s"truncate-partitioned write produced a MULTI-PREFIX file ($file: " +
          s"prefixes $lo..$hi of width $w on '$c') — refusing to record a " +
          "co-location claim the planner would elide shuffles on")
      lo match {
        case s: String => TruncStrStat(w, s)
        case v => TruncStat(w, v.asInstanceOf[Long])
      }
    }
  }

  /** The time granularities, coarse to fine. */
  val TimeGrans: Seq[String] = Seq("years", "months", "days", "hours")

  /** Every layout kind — the sidecar's first field, the DDL transform
    * name, and (suffixed `By`) the write option.
    */
  val Kinds: Seq[String] = "bucket" +: "truncate" +: TimeGrans

  /** The spec syntax of every kind, for help text. */
  val SpecHelp: String =
    s"bucket: '<numBuckets>:<col>[,col2]'; truncate: '<width>:<col>'; " +
      s"${TimeGrans.mkString("|")}: '<tsCol>'"

  private def usage(kind: String, what: String, got: String): String =
    kind match {
      case "bucket" =>
        s"$what must be '<numBuckets>:<col[,col2]>' with a positive " +
          s"count, got '$got'"
      case "truncate" =>
        s"$what must be '<width>:<col>' with a positive width and a " +
          s"single column, got '$got'"
      case _ =>
        s"$what must be a single timestamp column name, got '$got'"
    }

  /** A count or width: 1 to 9 digits (never overflows an Int), >= 1. */
  private[graft] def positiveInt(s: String): Option[Int] = {
    val t = s.trim
    if (t.nonEmpty && t.length <= 9 && t.forall(_.isDigit) && t.toInt >= 1)
      Some(t.toInt)
    else None
  }

  /** A comma-joined bucket column list ("c1" or "c1,c2") as names. */
  private[graft] def splitCols(cs: String): Seq[String] =
    cs.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Positive counts and sidecar-safe column names: a tab or newline
    * would corrupt the `<kind>\t<spec>` line, a comma the column list.
    */
  private def wellFormed(l: Layout): Boolean =
    l.cols.nonEmpty &&
      l.cols.forall(c => c.nonEmpty && !c.exists("\t\n,".contains(_))) &&
      (l match {
        case Bucket(n, _) => n >= 1
        case Truncate(w, _) => w >= 1
        case Time(g, _) => TimeGrans.contains(g)
      })

  /** THE layout spec parser: `kind` is one of [[Kinds]], `spec` the
    * sidecar text ([[SpecHelp]]). Every text source of a layout — the
    * sidecar, `declareLayout`, the layout procedures and the write
    * options — comes through here. `what` names the source in errors.
    */
  def parse(kind: String, spec: String, what: String = ""): Layout = {
    require(Kinds.contains(kind),
      s"layout kind must be ${Kinds.mkString("|")}, got '$kind'")
    val name = if (what.isEmpty) s"$kind layout spec" else what
    val i = spec.indexOf(':')
    val head = if (i > 0) positiveInt(spec.substring(0, i)) else None
    val tail = spec.substring(i + 1).trim
    val parsed = (kind, head) match {
      case ("bucket", Some(n)) => Some(Bucket(n, splitCols(tail)))
      case ("truncate", Some(w)) => Some(Truncate(w, tail))
      case ("bucket" | "truncate", None) => None
      case (g, _) => Some(Time(g, spec.trim))
    }
    parsed.filter(l => wellFormed(l) && !spec.exists("\t\n".contains(_)))
      .getOrElse(throw new IllegalArgumentException(usage(kind, name, spec)))
  }

  /** The layout a DDL `PARTITIONED BY` clause declares: `bucket(n,
    * col...)`, `truncate(w, col)` or `years|months|days|hours(ts)`.
    * Identity and other transforms are refused with the cure named.
    */
  def fromTransform(partitions: Array[Transform]): Option[Layout] = {
    if (partitions.isEmpty) return None
    require(partitions.length == 1,
      "graft tables take ONE layout transform: bucket(n, col...), " +
        s"truncate(w, col) or ${TimeGrans.mkString("/")}(ts)")
    val t = partitions.head
    val cols = t.references().toSeq.map(_.fieldNames().mkString("."))
    def literal(missing: String): Int = t.arguments().collectFirst {
      case l: Literal[_] => l.value().toString
    }.map(v => positiveInt(v).getOrElse(0))
      .getOrElse(throw new IllegalArgumentException(missing))
    val l = t.name() match {
      case "bucket" =>
        Bucket(literal("bucket(n, col...) needs a literal bucket count"), cols)
      case "truncate" =>
        Truncate(literal("truncate(width, col) needs a literal width"),
          cols.mkString(","))
      case g if TimeGrans.contains(g) => Time(g, cols.mkString(","))
      case other => throw new UnsupportedOperationException(
        s"graft supports PARTITIONED BY (bucket(n, col...)), " +
          s"(truncate(w, col)) and (${TimeGrans.mkString("|")}(ts)); got " +
          s"'$other' — range layouts go through clusterBy/OPTIMIZE " +
          "ZORDER instead")
    }
    require(wellFormed(l), usage(l.kind, s"${l.kind} layout spec", t.describe))
    Some(l)
  }

  /** The write options that shape a layout of their own: each refuses a
    * partition layout beside it (the layout's split IS the write's
    * shuffle).
    */
  private val Rivals = Seq("zorderCols", "clusterBy", "numFiles")

  /** The partition layout a write's options ask for: at most ONE of
    * `bucketBy`, `truncateBy`, `yearsBy`, `monthsBy`, `daysBy`,
    * `hoursBy` (each `<kind>By`, its value a [[parse]] spec), and never
    * together with `zorderCols` / `clusterBy` / `numFiles`.
    */
  def fromOptions(opts: CaseInsensitiveStringMap): Option[Layout] = {
    val given = Kinds.flatMap(k => Option(opts.get(s"${k}By")).map(k -> _))
    require(given.size <= 1,
      s"${given.map(_._1 + "By").mkString(" and ")} are mutually " +
        "exclusive: a table has one partition layout " +
        s"(${Kinds.map(_ + "By").mkString("/")})")
    given.headOption.map { case (kind, spec) =>
      val rivals =
        Rivals.filter(o => Option(opts.get(o)).exists(_.trim.nonEmpty))
      require(rivals.isEmpty,
        s"${kind}By is mutually exclusive with ${Rivals.mkString("/")} " +
          s"(the $kind split is the layout), got ${rivals.mkString(", ")}")
      parse(kind, spec, s"write option ${kind}By")
    }
  }

  /** True for a manifest stats key that is a layout token. */
  def isToken(k: String): Boolean =
    k.endsWith("#bucket") || k.endsWith("#trunc") ||
      TimeGrans.exists(g => k.endsWith(s"#$g"))

  /** One file's layout from its tokens (physical column names, bucket
    * columns sorted by name so both sides of a join agree): all bucket
    * tokens sharing one count, or exactly one time or truncate token.
    * None for an unlaid file or one whose tokens disagree.
    */
  def ofEntry(e: ManifestEntry): Option[Layout] = {
    val buckets = e.stats.toSeq.collect {
      case (k, BucketStat(n, _)) if k.endsWith("#bucket") =>
        (k.stripSuffix("#bucket"), n)
    }.sortBy(_._1)
    val singles = e.stats.toSeq.flatMap {
      case (k, DaysStat(_)) => TimeGrans.collectFirst {
        case g if k.endsWith(s"#$g") => Time(g, k.stripSuffix(s"#$g"))
      }
      case (k, TruncStat(w, _)) if k.endsWith("#trunc") =>
        Some(Truncate(w, k.stripSuffix("#trunc")))
      case (k, TruncStrStat(w, _)) if k.endsWith("#trunc") =>
        Some(Truncate(w, k.stripSuffix("#trunc")))
      case _ => None
    }
    (buckets, singles) match {
      case (Seq(), Seq(one)) => Some(one)
      case (bs, Seq()) if bs.nonEmpty && bs.map(_._2).distinct.size == 1 =>
        Some(Bucket(bs.head._2, bs.map(_._1)))
      case _ => None
    }
  }

  /** The snapshot's layout, when it provably has one: EVERY live entry
    * carries the same [[ofEntry]] layout. One unlaid file (a later plain
    * append, an opted-out rewrite) or a second generation makes the
    * answer None — consumers then shuffle/read, never claim wrongly.
    */
  def of(es: Seq[ManifestEntry]): Option[Layout] = {
    val each = es.map(ofEntry)
    each.headOption.flatten.filter(l => each.forall(_.contains(l)))
  }
}
