package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_EXTRA_CONF` echo never prints a credential. */
class SessionsSpec extends AnyFunSuite {

  test("extra-conf echo masks values of credential-like keys") {
    for (k <- Seq("spark.hadoop.fs.s3a.secret.key", "spark.hadoop.fs.s3a.access.key",
                  "db.PASSWORD", "spark.graft.apiToken", "spark.ssl.keyStorePassword",
                  "spark.authenticate.Secret")) {
      val line = Sessions.echo(k, "hunter2")
      assert(!line.contains("hunter2"), line)
      assert(line.startsWith(s"$k="), line)
    }
  }

  test("extra-conf echo keeps values of other keys") {
    assert(Sessions.echo("spark.sql.shuffle.partitions", "8") ===
      "spark.sql.shuffle.partitions=8")
  }
}
