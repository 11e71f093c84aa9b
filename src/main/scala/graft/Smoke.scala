package graft

/** Local mirror of the driver's t1 smoke: run SparkEntry.entry on
  * sf0.001 and assert rows > 0. Optional arg: a query name to run and
  * show instead (on the dir given as second arg, default sf0.001).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("4")
    args.headOption match {
      case None =>
        val df = SparkEntry.entry(spark)
        val n = df.count()
        df.show(5, truncate = false)
        println(s"ENTRY_ROWS=$n")
        require(n > 0, "flagship entry returned 0 rows")
      case Some(name) =>
        val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        val df = SparkEntry.queries(name)(spark, dir)
        df.show(20, truncate = false)
        df.explain("formatted")
        println(s"ROWS=${df.count()}")
    }
    spark.stop()
  }
}
