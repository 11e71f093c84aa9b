package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Session artifacts: the once-per-(app, sf) intermediate results that
  * several queries share (q40's near-dup pair table, q123's co-purchase
  * edges, q154's PQ codebooks+encodings, q69's bucketed tables, the
  * q196 standing graph index). Every such cache goes through here.
  *
  *  - Keyed by (name, applicationId, sfDir, key), so a new session or a
  *    second dataset in one session never reads a stale artifact.
  *  - Single-flight: one build per key; concurrent first callers wait
  *    for it instead of building a duplicate. Builds may nest (the
  *    components → pairs → prefix-index chain, the churned → bootstrap
  *    graph index), since each key has its own lock; nested keys must
  *    not form a cycle.
  *  - A build that throws is not kept; the next caller rebuilds.
  *  - Timed: each build's wall seconds are recorded under its name and
  *    read by the measurement harness through [[timings]]
  *    ([[Harness.memos]]), so an artifact build and its first
  *    consumer's query time stay distinguishable.
  *    The cost is still inside the first consumer's wall time; the map
  *    attributes it, it does not subtract it.
  *
  * Artifacts are held as files (a parquet round-trip, or table dirs),
  * never as a persisted DataFrame: [[Harness.sweep]] frees every
  * persisted block between queries (including a build's final
  * localCheckpoint), which would leave a held frame reading freed
  * blocks. The shared tables are small (near-dup pairs, edge lists,
  * ranked top-k), so the round-trip is noise; on a cluster the same
  * pattern writes the artifact once to shared storage and every
  * consumer reads it. Directories come from [[TempDirs]] and go at JVM
  * exit.
  */
object Artifacts {

  /** One build slot. `lazy val` gives the single flight: its
    * initializer runs under this cell's monitor, so callers that find
    * the cell while it builds block until it is done; if the build
    * throws, the value stays unset. (`ConcurrentHashMap.computeIfAbsent`
    * cannot do this: it runs the build under a lock on the map's hash
    * bin, and a nested build can throw "Recursive update" or deadlock.)
    */
  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = TrieMap.empty[(String, String, String, Any), Cell]

  private val seconds = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** The artifact `name` for this session, dataset and `key`: built by
    * the first caller, shared by every later one.
    */
  def once[A](name: String, s: SparkSession, sfDir: String, key: Any = ())
             (build: => A): A = {
    val k = (name, s.sparkContext.applicationId, sfDir, key)
    val cell = cells.getOrElseUpdate(k, new Cell(() => {
      val (r, sec) = Harness.time(build)
      seconds.put(name, sec)
      r
    }))
    try cell.value.asInstanceOf[A]
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** [[once]] for a DataFrame artifact: `build` is written once to a
    * scoped parquet dir, and every caller reads that dir back.
    */
  def parquet(name: String, s: SparkSession, sfDir: String, key: Any)
             (build: => DataFrame): DataFrame =
    s.read.parquet(once(name, s, sfDir, key) {
      val out = TempDirs.scoped(name)
      build.write.mode("overwrite").parquet(out)
      out
    })

  /** Artifact name → wall seconds of its last build in this JVM. */
  def timings: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    seconds.forEach((k, v) => b += (k -> v))
    b.result()
  }
}
