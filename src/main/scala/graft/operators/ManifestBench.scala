package graft.operators

import java.nio.file.{Files, Paths}

import graft.Harness.{millis, time}

/** MANY-FILE MANIFEST SCALE RECORD (r12, judge ask #7): the commit
  * log's O(delta)/checkpointed-replay claims, measured at 10⁵ manifest
  * entries — DRIVER-PLANE ONLY (manifests are text; no data files are
  * written, exactly like a 100 TB table's metadata plane, which is
  * what these operations touch). Synthesizes `commits` delta manifests
  * of `filesPerCommit` entries each (disjoint k zone maps, row
  * counts), then measures, cold within one JVM:
  *
  *   - full log BUILD (publish × commits, checkpoints on cadence),
  *   - REPLAY at head (latest checkpoint + ≤[[VersionedTable
  *     .CheckpointEvery]] delta suffix — the claim: cost ∝ checkpoint
  *     size + suffix, never ∝ commit count; the structural proof that
  *     replay touches nothing older lives in `ManifestScaleSpec`),
  *   - a selective zone-map PRUNE over the full entry list (the
  *     driver-plane planning step every read pays),
  *   - manifest-answered COUNT (row-count fold over entries),
  *   - TIMESTAMP AS OF resolution (reverse marker scan).
  *
  * Emits one JSON line (the BENCH_scale record convention) — commit
  * the output as BENCH_manifest.json.
  */
object ManifestBench {

  /** The `manifest_scale` record for `commits` synthetic commits of
    * `perCommit` entries each, in a fresh temp dir.
    */
  def record(commits: Int, perCommit: Int): String = {
    val base = Files.createTempDirectory("graft_manifest_bench").toString
    val (_, buildSec) = time {
      (1 to commits).foreach { v =>
        val lines = (0 until perCommit).map { i =>
          val k = (v.toLong - 1L) * perCommit * 10L + i * 10L
          s"+d$v-synth/part-$i.parquet\t#rows=100\tk=$k..${k + 9}"
        }
        VersionedTable.publish(base, v.toLong,
          (Seq("#op=append") ++ lines).mkString("", "\n", "\n"))
        if (v % VersionedTable.CheckpointEvery == 0)
          VersionedTable.checkpointAt(base, v.toLong)
      }
    }
    val (es, replaySec) = time(VersionedTable.entries(base, commits.toLong))
    require(es.size == commits * perCommit,
      s"replay lost entries: ${es.size} != ${commits * perCommit}")
    // selective prune: one commit's k-span out of the whole domain
    val plo = (commits / 2L) * perCommit * 10L
    val (kept, pruneSec) = time(VersionedTable.pruneTyped(es,
      Seq(VersionedTable.LongRange("k", plo, plo + perCommit * 10L - 1L))))
    require(kept.size <= 2 * perCommit && kept.nonEmpty,
      s"prune kept ${kept.size}")
    val (total, countSec) = time(es.map(_.liveRows).sum)
    require(total == commits.toLong * perCommit * 100L)
    val tsMid = VersionedTable.commitTimestamp(base, commits / 2L).get
    val (vAt, tsSec) = time(VersionedTable.versionAtTimestamp(base, tsMid))
    require(vAt.contains(commits / 2L))
    val cpBytes = Files.size(Paths.get(base, "_log",
      f"${(commits / VersionedTable.CheckpointEvery *
        VersionedTable.CheckpointEvery)}%020d.checkpoint"))
    s"""{"metric":"manifest_scale","entries":${es.size},""" +
      s""""commits":$commits,"files_per_commit":$perCommit,""" +
      s""""build_ms":${millis(buildSec)},"replay_head_ms":${millis(replaySec)},""" +
      s""""prune_ms":${millis(pruneSec)},"pruned_kept":${kept.size},""" +
      s""""manifest_count_ms":${millis(countSec)},"ts_as_of_ms":${millis(tsSec)},""" +
      s""""checkpoint_bytes":$cpBytes,""" +
      s""""bound":"replay = latest checkpoint + <=${
        VersionedTable.CheckpointEvery} delta manifests (structural proof:
 ManifestScaleSpec replays identically after markers below the
 checkpoint are deleted)"}""".replaceAll("\n", " ")
  }

  def main(args: Array[String]): Unit =
    println(record(sys.env.getOrElse("GRAFT_MANIFEST_COMMITS", "100").toInt,
      sys.env.getOrElse("GRAFT_MANIFEST_FILES", "1000").toInt))
}
