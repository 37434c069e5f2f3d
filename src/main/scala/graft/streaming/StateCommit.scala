package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.regex.Pattern

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
  * external reader relies on.
  *
  * The steps both commit protocols take are written once, at the foot of
  * this object, and [[AppendState]] calls them: [[writeAtomically]] (every
  * marker and stamp: `.applied`, `.layout`, `.base`), [[readId]] (a
  * marker's batch id), [[stamped]] (the `.layout` check), [[sweep]] (the
  * retire-by-listing of superseded versions, deltas and bases) and
  * [[deleteTree]]. Each module keeps only its own legacy rule: here the
  * flat-dir fallback of [[committedDir]]. */
private[streaming] object StateCommit {

  private def markerFile(targetDir: String) = new File(targetDir + ".applied")
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
  private def layoutFile(targetDir: String) = new File(targetDir + ".layout")

  private def checkLayout(targetDir: String): Unit = {
    stamped(layoutFile(targetDir), LayoutId)
    require(markerFile(targetDir).exists() || !Option(new File(targetDir).listFiles()).exists(
      _.exists(_.getName.matches("(delta|base)=.*|\\.base|\\.layout"))),
      s"StateCommit: $targetDir holds an AppendState-layout state " +
        "(delta=/base= entries) — a monitor restarted against a state dir " +
        "written by an earlier layout generation; refusing to silently " +
        "reset it. Rebuild the state from a replay on a fresh target dir")
  }

  /** Last committed batch id, or −1 before the first commit. */
  def lastApplied(targetDir: String): Long = {
    checkLayout(targetDir)
    readId(markerFile(targetDir))
  }

  /** Directory holding the committed state for `id` — normally the
    * versioned dir, but a marker written by the pre-versioning layout
    * (flat `targetDir` + same marker format) names a version dir that was
    * never created; fall back to the flat dir so an old checkpoint/state
    * pair restarts instead of crashing (the next applyBatch migrates it
    * into the versioned layout). */
  private def committedDir(targetDir: String, id: Long): String = {
    val versioned = new File(versionDir(targetDir, id))
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
    if (!layoutFile(targetDir).exists()) writeAtomically(layoutFile(targetDir), LayoutId)
    writeAtomically(markerFile(targetDir), batchId.toString)
    retireVersionsBelow(targetDir, batchId)
  }

  /** Delete every `targetDir.v<id>` with id < `live`, found by listing the
    * parent dir: a crash between an earlier flip and its delete left a
    * version that deleting only `v<last>` would never revisit. */
  private def retireVersionsBelow(targetDir: String, live: Long): Unit = {
    val t = new File(targetDir).getAbsoluteFile
    val version = (Pattern.quote(t.getName) + "\\.v(\\d+)").r
    sweep(t.getParentFile) {
      case version(id) => id.toLong < live
      case _ => false
    }
  }

  // -- the commit steps both protocols share (AppendState calls them too) --

  /** Write `text` to `<file>.tmp`, then rename it over `file` atomically:
    * readers see the old text or the new, never a torn one, and a crash
    * leaves only the `.tmp` that the next write overwrites. */
  private[streaming] def writeAtomically(file: File, text: String): Unit = {
    val tmp = new File(file.getPath + ".tmp")
    Files.writeString(tmp.toPath, text)
    Files.move(tmp.toPath, file.toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The batch id a marker file holds, or −1 when it is absent. */
  private[streaming] def readId(marker: File): Long =
    if (marker.exists()) Files.readString(marker.toPath).trim.toLong else -1L

  /** Whether the `layout` stamp exists; refuses one that names another
    * layout than `layoutId` (state dir and checkpoint dir live and die as
    * a unit, so a state of another generation is rebuilt by replay). */
  private[streaming] def stamped(layout: File, layoutId: String): Boolean =
    layout.exists() && {
      val got = Files.readString(layout.toPath).trim
      require(got == layoutId,
        s"$layout stamps layout '$got' but this build " +
          s"reads '$layoutId' — incompatible state layout; rebuild the state " +
          "from a replay (state dir and checkpoint dir live and die as a unit)")
      true
    }

  /** Delete, best-effort, every entry of `dir` whose name `doomed` accepts. */
  private[streaming] def sweep(dir: File)(doomed: String => Boolean): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      if (doomed(f.getName)) deleteTree(f)
    }

  /** Delete `f` and, if it is a directory, everything under it. */
  private[streaming] def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
