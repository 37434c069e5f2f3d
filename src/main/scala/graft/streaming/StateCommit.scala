package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned, atomically-flipped micro-batch state commit — the shared
  * exactly-once discipline for ADDITIVE foreachBatch state (counts,
  * histograms), where the batch-replay guard genuinely must be
  * transactional: an idempotent merge (min/distinct-union) absorbs a
  * replay for free, but an additive merge applied twice double-counts.
  *
  * Commit protocol (single-writer stream):
  *  1. the merged state for batch B lands in a FRESH `targetDir.vB`
  *     directory — the live version is never touched;
  *  2. the marker file flips to B via an atomic same-directory rename,
  *     so marker and state commit together;
  *  3. every superseded version (`targetDir.v<id>`, id < B) is deleted
  *     only after the flip, found by LISTING the parent dir (best-effort
  *     — leftovers are garbage, never state, and the next commit sweeps
  *     them).
  * A crash at any point leaves the marker naming a complete,
  * fully-applied version: before the flip the replay re-merges from the
  * still-intact previous version (overwriting any orphan vB); after the
  * flip the batch-id guard refuses the replay.
  *
  * Cost: one pass. The merge streams from the live version straight into
  * the fresh version dir — nothing target-sized is materialized first
  * (the base is always `v<last>` or the legacy flat dir, never the dir
  * being written, so an eager copy would protect nothing). Bytes written
  * per commit stay O(state): every version is a complete state in flat
  * parquet files directly under `targetDir.vB`, the contract every
  * external reader relies on. */
private[streaming] object StateCommit {

  private def markerFile(targetDir: String) = new java.io.File(targetDir + ".applied")
  private def versionDir(targetDir: String, batchId: Long) = s"$targetDir.v$batchId"

  /** Layout-version stamp (sibling `.layout` file, like the `.applied`
    * marker). Guards the two silent-restart hazards: (a) a FUTURE layout
    * refactor — readers refuse a mismatched stamp instead of resolving
    * garbage; (b) a target dir holding a DIFFERENT state class's layout —
    * most concretely an [[AppendState]] delta dir from a stream's earlier
    * design (the SchemaProfileStream round-15 rewrite), where `lastApplied`
    * would otherwise report −1 and the next applyBatch would quietly
    * rebuild the grid from one batch, silently zeroing a monitor. An
    * `.applied` marker with no `.layout` stamp is the documented
    * pre-versioning StateCommit layout and stays readable (the flat-dir
    * fallback in [[committedDir]]); the stamp is added at the next commit. */
  private[streaming] val LayoutId = "graft-state-commit v1"
  private def layoutFile(targetDir: String) = new java.io.File(targetDir + ".layout")

  private def checkLayout(targetDir: String): Unit = {
    val lf = layoutFile(targetDir)
    if (lf.exists()) {
      val got = java.nio.file.Files.readString(lf.toPath).trim
      require(got == LayoutId,
        s"StateCommit: state at $targetDir has layout '$got' but this build " +
          s"reads '$LayoutId' — incompatible state layout; rebuild the state " +
          "from a replay (state dir and checkpoint dir live and die as a unit)")
    }
    if (!markerFile(targetDir).exists()) {
      val dir = new java.io.File(targetDir)
      val entries = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      require(!entries.exists(f => f.getName.startsWith("delta=") ||
        f.getName.startsWith("base=") || f.getName == ".base" || f.getName == ".layout"),
        s"StateCommit: $targetDir holds an AppendState-layout state " +
          "(delta=/base= entries) — a monitor restarted against a state dir " +
          "written by an earlier layout generation; refusing to silently " +
          "reset it. Rebuild the state from a replay on a fresh target dir")
    }
  }

  /** Last committed batch id, or −1 before the first commit. */
  def lastApplied(targetDir: String): Long = {
    checkLayout(targetDir)
    val marker = markerFile(targetDir)
    if (marker.exists()) java.nio.file.Files.readString(marker.toPath).trim.toLong
    else -1L
  }

  /** Directory holding the committed state for `id` — normally the
    * versioned dir, but a marker written by the pre-versioning layout
    * (flat `targetDir` + same marker format) names a version dir that was
    * never created; fall back to the flat dir so an old checkpoint/state
    * pair restarts instead of crashing (the next applyBatch migrates it
    * into the versioned layout). */
  private def committedDir(targetDir: String, id: Long): String = {
    val versioned = new java.io.File(versionDir(targetDir, id))
    if (versioned.exists()) versioned.toString else targetDir
  }

  /** The LIVE state table: the marker names the exact versioned directory
    * whose contents include every applied batch — readers never observe a
    * half-written overwrite. */
  def state(spark: SparkSession, targetDir: String): DataFrame = {
    val id = lastApplied(targetDir)
    require(id >= 0, s"StateCommit: no applied state at $targetDir")
    spark.read.parquet(committedDir(targetDir, id))
  }

  /** One guarded apply: skip if `batchId` is already committed, else build
    * the merged state from the live version (None before the first
    * commit) and commit it under the protocol above. A NEGATIVE `batchId`
    * means "out-of-band apply, no checkpoint identity": the commit gets
    * the next version id and the replay guard is skipped — valid ONLY for
    * idempotent merges (the guard is what protects additive ones; the
    * atomic publish protects both). A caller that knows the state's
    * `schema` passes it, so opening the live version reads no parquet
    * footer (no schema-inference job per commit). */
  def applyBatch(spark: SparkSession, targetDir: String, batchId0: Long,
                 schema: Option[StructType] = None)
                (merge: Option[DataFrame] => DataFrame): Unit = {
    val last = lastApplied(targetDir)
    if (batchId0 >= 0 && batchId0 <= last) return // replayed batch: no-op
    val batchId = if (batchId0 >= 0) batchId0 else last + 1
    val base = if (last < 0) None else {
      val r = spark.read
      Some(schema.fold(r)(r.schema).parquet(committedDir(targetDir, last)))
    }
    merge(base).write.mode("overwrite").parquet(versionDir(targetDir, batchId))
    if (!layoutFile(targetDir).exists()) {
      val lt = new java.io.File(targetDir + ".layout.tmp")
      java.nio.file.Files.writeString(lt.toPath, LayoutId)
      java.nio.file.Files.move(lt.toPath, layoutFile(targetDir).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val tmp = new java.io.File(targetDir + ".applied.tmp")
    java.nio.file.Files.writeString(tmp.toPath, batchId.toString)
    java.nio.file.Files.move(tmp.toPath, markerFile(targetDir).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    retireVersionsBelow(targetDir, batchId)
  }

  /** Delete every `targetDir.v<id>` with id < `live`, found by listing the
    * parent dir: a crash between an earlier flip and its delete left a
    * version that deleting only `v<last>` would never revisit. */
  private def retireVersionsBelow(targetDir: String, live: Long): Unit = {
    val t = new java.io.File(targetDir).getAbsoluteFile
    val version = (java.util.regex.Pattern.quote(t.getName) + "\\.v(\\d+)").r
    Option(t.getParentFile.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      f.getName match {
        case version(id) if id.toLong < live => deleteQuietly(f)
        case _ =>
      }
    }
  }

  private def deleteQuietly(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteQuietly))
    f.delete(); ()
  }
}
