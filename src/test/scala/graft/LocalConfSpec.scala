package graft

/** [[Sessions.localBuilder]]'s effective conf, pinned key by key: the
  * CLI, perfbench and the specs all build their session through it, so
  * any setting it adds, drops or changes must show up here.
  */
class LocalConfSpec extends SparkSuite {

  /** Values Spark itself sets per run, host or JVM. */
  private val SparkOwn = Set("spark.app.id", "spark.app.name",
    "spark.app.startTime", "spark.driver.extraJavaOptions",
    "spark.driver.host", "spark.driver.port",
    "spark.executor.extraJavaOptions", "spark.executor.id",
    "spark.hadoop.fs.s3a.vectored.read.max.merged.size",
    "spark.hadoop.fs.s3a.vectored.read.min.seek.size",
    "spark.sql.warehouse.dir")

  test("localBuilder's session conf is exactly the engine's settings") {
    // a new session reads the conf the builder set, not runtime sets
    // other specs make on the shared session
    val conf = spark.newSession().conf.getAll -- SparkOwn
    assert(conf === Map(
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.io.NioLocalFs",
      "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
      "spark.master" -> "local[4]",
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.graft.warehouse" ->
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2097152",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2147483647",
      "spark.ui.enabled" -> "false"))
  }
}
