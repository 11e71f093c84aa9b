package graft.queries

import graft.{SparkEntry, SparkSuite, TempDirs}

/** The versioned-table fixture queries built on `SinkQueries.appendBins`
  * (q153 runs in ManifestSkippingSpec), run end to end at sf0.001 in
  * one session. Each query's own `require`s are the checks: q165's
  * `versionAsOf 8` and q187's `bV == 9 && aV == 10` pin the per-bin
  * version count, q189 its metadata-only rename, q176 its plan shapes,
  * q175 its deletion-vector fold.
  */
class SinkFixtureQueriesSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  Seq("q155_compaction_lifecycle", "q157_dsv2_skipping",
    "q159_string_date_skipping", "q165_sql_delete", "q168_sql_update",
    "q169_sql_merge", "q174_sql_restore", "q175_dv_lifecycle",
    "q176_dsv2_dv_read", "q177_runtime_pruning", "q183_scoped_optimize",
    "q184_manifest_ndv", "q185_describe_detail", "q187_disjoint_dml_race",
    "q189_column_mapping", "q191_refs_clone", "q193_replace_where",
    "q194_row_tracking", "q195_cdc_by_rowid").foreach { name =>
    test(s"$name completes with rows") {
      assert(SparkEntry.queries(name)(spark, dir).collect().nonEmpty)
    }
  }

  test("q174 and q176 write under the session's catalog warehouse") {
    // a fresh session whose catalog has not been loaded yet: the
    // warehouse set here is the one `graft.<ns>.t` resolves under
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft.warehouse",
      TempDirs.scoped("graft_wh"))
    Seq("q174_sql_restore", "q176_dsv2_dv_read").foreach { name =>
      assert(SparkEntry.queries(name)(s, dir).collect().nonEmpty, name)
    }
  }
}
