package graft.queries

import graft.{SparkEntry, SparkSuite}

/** Registry-wide physical-plan invariant: NO benched query may plan an
  * unbounded CartesianProduct — the one join shape that cannot survive
  * any scale-up. Broadcast nested-loop joins against literal/dimension
  * frames (q36's 3-row query set, q54's band table) are fine and
  * planned as BroadcastNestedLoopJoin, which this does not flag.
  *
  * This is a sweep, not a per-query pin: any future registry entry
  * that accidentally drops a join condition (the classic cause — a
  * typo'd column name turning an equi-join into a cross) fails here
  * before it reaches the driver.
  */
class RegistryPlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  // planned once, swept by both invariants below
  private lazy val plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.registry.filter(_.bench).map { q =>
      q.name -> q.run(spark, dir).queryExecution.executedPlan
    }

  // invariant definitions live in graft.plans.PlanChecks (main code)
  // so the scale harness re-checks literally the same predicates on
  // amplified plans (ScaleBench)

  test("no benched query plans a CartesianProduct") {
    val offenders = plans.collect {
      case (name, plan)
          if graft.plans.PlanChecks.hasCartesianProduct(plan) =>
        name
    }
    assert(offenders.isEmpty,
      s"unbounded cartesian product in: ${offenders.mkString(", ")}")
  }

  // Companion sweep (judge r7 #3): a `Window.orderBy` with no partition
  // funnels the whole table through ONE task — the bench tail's
  // repeated "No Partition Defined" WARN must only ever come from
  // GlobalRank's offsets frame, which is a #partitions-row aggregate
  // whose columns are all "__"-prefixed internals (GlobalRank.scala:64,
  // 103). Any partitionless window whose input carries a real data
  // column is a scale-killer and fails here before it reaches the
  // driver.
  test("no benched query plans a partitionless window over data") {
    val offenders = plans.flatMap { case (name, plan) =>
      graft.plans.PlanChecks.partitionlessDataWindows(plan)
        .map(cols => s"$name over (${cols.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"partitionless window over data in: ${offenders.mkString("; ")}")
  }

  // SURVEY §8 claims these are one-scan queries with column pruning
  // reaching parquet — pin the scan schema so a refactor that drags
  // extra columns through fails here. The third element restricts the
  // assert to scans of that table's file (memo-parquet re-reads and
  // other tables in the same plan are exempt). A query whose scan runs
  // while a session memo is built (q123's co-purchase artifacts) has
  // no scan left in its own plan; its pin checks the memo's build frame.
  private val planOf: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
    "q123_copurchase_similarity" -> (() => JoinQueries.copurchaseBaskets(spark, dir)))

  for ((name, table, expected) <- Seq(
      ("q91_vocab_coverage", "documents", Set("text")),
      ("q94_quality_length_corr", "documents", Set("text", "lang")),
      ("q126_weighted_sample", "documents", Set("doc_id", "n_chars", "source")),
      ("q123_copurchase_similarity", "lineitem", Set("l_orderkey", "l_partkey")),
      ("q133_zorder_layout", "lineitem",
        Set("l_orderkey", "l_partkey", "l_suppkey")),
      // r9 shapes: the posting-list rewrite must not drag extra
      // document columns through its one corpus scan, and the fuzzy
      // join touches exactly the key + name dimension columns.
      // (q141 has no pin: it reads only the session-memoized
      // co-purchase edge parquet — its lineitem pruning is the q123
      // pin, which builds that memo.)
      ("q106_source_overlap", "documents", Set("text", "source")),
      ("q139_fuzzy_join_k2", "supplier", Set("s_suppkey", "s_name"))))
    test(s"$name reads only ${expected.mkString("+")} from $table") {
      spark.catalog.clearCache()
      // file scans hide under AQE wrappers and — for queries that
      // persist an intermediate (GlobalRank's sorted frame) — inside
      // the InMemoryRelation's cached plan; recurse through both
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collectLeaves().flatMap {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.initialPlan)
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            scansOf(m.relation.cachedPlan)
          case _ => Nil
        }
      val df = planOf.get(name).fold(SparkEntry.queries(name)(spark, dir))(_())
      val scans = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains(s"$table.parquet")))
      assert(scans.nonEmpty, s"no FileSourceScanExec over $table found")
      scans.foreach { s =>
        assert(s.requiredSchema.fieldNames.toSet.subsetOf(expected),
          s"scan reads ${s.requiredSchema.fieldNames.mkString(",")}")
      }
    }
}
