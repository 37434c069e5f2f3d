package graft.streaming

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

import StateCommit.{deleteTree, readId, stamped, sweep, writeAtomically}

/** Append-only micro-batch state for MONOTONE UNION state — the companion
  * discipline to [[StateCommit]] (which covers ADDITIVE state). Union
  * state (a shingle index, a verdict table, a survivor set, a pair table)
  * grows with the corpus, so the overwrite-in-place lifecycle the additive
  * streams use is wrong twice over at 100 TB: every micro-batch rewrites
  * O(corpus) parquet to absorb an O(batch) delta, and a crash mid-overwrite
  * leaves the ONLY copy of the state torn. This helper writes each batch as
  * its own immutable delta directory instead:
  *
  *  - layout: `targetDir/delta=<batchId>/…` plus an optional compacted
  *    `targetDir/base=<id>/…` named by the highest batch id folded into it
  *    (a `.base` marker file holds that id — readers take base(marker) ∪
  *    deltas with id > marker);
  *  - publish: the delta lands in a hidden `targetDir/.tmp-<batchId>`
  *    directory first, then a same-filesystem atomic rename flips it to
  *    `delta=<batchId>` — readers can never observe a half-written delta,
  *    and a crash mid-write leaves only a dot-dir that the replay clears;
  *  - replay: an existing `delta=<batchId>` (or batchId ≤ the compaction
  *    marker) makes the append a no-op. The guard is an I/O saving, not a
  *    correctness requirement: union-state merges are idempotent, so even
  *    a doubled delta collapses through the merge-on-read. (As with every
  *    foreachBatch state, batch ids are meaningful only relative to their
  *    checkpoint — state dir and checkpoint dir live and die as a unit.)
  *
  * Readers apply the state's keyed/distinct merge ON READ (each stream owns
  * its merge: distinct for an index, min-struct for survivor sets) — the
  * merge is commutative/associative/idempotent, so reducing the union of
  * deltas equals reducing any arrival order. [[compact]] folds the current
  * deltas into a fresh base under [[StateCommit]]'s marker-flip protocol,
  * bounding read amplification without ever blocking the writer.
  *
  * 100 TB shape: per-batch I/O is O(batch) — the delta is the only write.
  * Merge-on-read touches base + deltas, which periodic compaction keeps at
  * O(corpus + recent); production would run compaction as the same leveled
  * merge an LSM tree uses.
  *
  * The `.layout` and `.base` writes, the stamp check, the marker read,
  * the retire sweep and every delete are [[StateCommit]]'s shared steps;
  * this module adds only its own legacy rule ([[isLegacyLayoutEntry]])
  * and the delta publish, the rename of `.tmp-<id>` to `delta=<id>`. The
  * bucketed posting index of the dedup monitors is [[Monitor.Postings]],
  * the one caller that passes `partitionCols`. */
private[streaming] object AppendState {

  /** Layout-version stamp written into every state dir (`.layout`). A
    * state directory is only meaningful to the code generation that wrote
    * it — a layout refactor (new schema, new commit protocol, a different
    * state class entirely) must fail LOUD on restart, not silently read
    * an empty/garbage state and quietly reset a monitor (the
    * SchemaProfileStream round-15 rewrite hazard). Readers and writers
    * refuse a dir whose stamp mismatches, and refuse a NON-EMPTY dir with
    * no stamp at all (pre-versioning, or written by [[StateCommit]] /
    * something else). Bump the version on any layout-breaking change. */
  private[streaming] val LayoutId = "graft-append-state v1"
  private def layoutMarker(targetDir: String) = new File(targetDir, ".layout")

  /** A directory entry THIS module's pre-versioning releases wrote:
    * exactly the delta=/base=/.base layout, plus crash garbage. A dir
    * containing only these is a legacy AppendState dir — readable as-is
    * and stamped in place at the next write, mirroring [[StateCommit]]'s
    * legacy path — not an unknown state class to refuse. Crash garbage is
    * not state content: a torn stamp (.layout.tmp), a torn marker
    * (.base.tmp) or a torn delta (.tmp-<id>) may be the ONLY leftover of a
    * crash inside the first append's stamp window, and the module's
    * contract is that replays clear such garbage. */
  private def isLegacyLayoutEntry(f: File): Boolean = {
    val n = f.getName
    n == ".layout.tmp" || n == ".base.tmp" || n.startsWith(".tmp-") ||
      (f.isDirectory && Numbered.matches(n)) || (f.isFile && n == ".base")
  }
  private val Numbered = "(delta|base)=(\\d+)".r

  /** Enforce the layout stamp; on a fresh/absent dir with `forWrite`,
    * create the dir and stamp it. An unstamped NON-empty dir whose
    * entries are all recognizably this module's own layout (a dir written
    * before layout versioning shipped) migrates in place: readable
    * immediately, stamped at the next write — the hard failure is
    * reserved for genuinely unrecognized content. */
  private def checkLayout(targetDir: String, forWrite: Boolean = false): Unit = {
    val dir = new File(targetDir)
    if (!stamped(layoutMarker(targetDir), LayoutId)) {
      require(Option(dir.listFiles()).forall(_.forall(isLegacyLayoutEntry)),
        s"AppendState: state dir $targetDir is non-empty but carries no " +
          s"'.layout' stamp and its contents are not this module's " +
          s"delta=/base= layout — it was written by a different state " +
          s"class; refusing to read it as '$LayoutId'. " +
          "Rebuild the state from a replay on a fresh target dir")
      if (forWrite) {
        dir.mkdirs()
        writeAtomically(layoutMarker(targetDir), LayoutId)
      }
    }
  }

  private def deltaDir(targetDir: String, batchId: Long) = new File(targetDir, s"delta=$batchId")
  private def tmpDir(targetDir: String, batchId: Long) = new File(targetDir, s".tmp-$batchId")
  private def baseDir(targetDir: String, upTo: Long) = new File(targetDir, s"base=$upTo")
  private def baseMarker(targetDir: String) = new File(targetDir, ".base")

  /** Highest batch id folded into the compacted base, or −1 if never
    * compacted. */
  def baseId(targetDir: String): Long = {
    checkLayout(targetDir)
    readId(baseMarker(targetDir))
  }

  /** Committed delta batch ids (ascending), EXCLUDING those folded into the
    * base. */
  def deltaIds(targetDir: String): Seq[Long] = {
    val base = baseId(targetDir)
    Option(new File(targetDir).listFiles()).map(_.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("delta="))
      .map(_.getName.stripPrefix("delta=").toLong)
      .filter(_ > base).sorted).getOrElse(Nil)
  }

  /** The next unclaimed delta id: one past everything committed. */
  private def nextFreeId(targetDir: String): Long =
    (deltaIds(targetDir) :+ baseId(targetDir)).max + 1

  /** Publish batch `batchId`'s rows as an immutable delta (write to a
    * dot-dir, atomic rename). No-op if the delta already exists or was
    * already compacted into the base (a replayed batch). A NEGATIVE
    * `batchId` means "out-of-band apply, no checkpoint identity": the
    * delta gets the next free id and the replay guard is skipped —
    * correctness then rests on the merge-on-read being idempotent, which
    * is the union-state contract. Out-of-band id allocation is
    * check-then-act, so a lost race on the publish rename (another
    * allocator claimed the id first) retries with a fresh id a bounded
    * number of times and then fails NAMING the contract: one writer
    * process per state dir (in-process callers serialize their own
    * appends — e.g. [[AlertSink]]'s lock); two processes sharing a dir
    * get this error instead of an opaque ATOMIC_MOVE failure.
    *
    * `partitionCols` buckets the delta's files by the named columns
    * (Hive-style subdirs inside the delta) so KEYED readers prune delta
    * files instead of scanning the full state — a state dir must use the
    * same partitioning for every append and its compactions (the layout
    * is part of the state contract; state dirs predating a layout change
    * are rebuilt by replay, as with any checkpoint change). */
  def append(delta: DataFrame, targetDir: String, batchId0: Long,
             partitionCols: Seq[String] = Nil): Unit = {
    checkLayout(targetDir, forWrite = true)
    val oob = batchId0 < 0
    val batchId = if (oob) nextFreeId(targetDir) else batchId0
    if (!oob &&
        (batchId <= baseId(targetDir) || deltaDir(targetDir, batchId).exists())) return
    // out-of-band writes use a UNIQUE tmp dir: two allocators racing on a
    // deterministic tmp path would interleave their parquet writes and one
    // could publish the other's rows — a crash mid-write orphans at most
    // one dot-dir (invisible to readers, bounded by crash count)
    val tmp =
      if (oob) new File(targetDir, s".tmp-oob-${UUID.randomUUID()}")
      else tmpDir(targetDir, batchId)
    if (tmp.exists()) deleteTree(tmp) // torn write from a previous crash
    val w = delta.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    // A zero-row partitionBy write emits only _SUCCESS — no schema-bearing
    // part file — and one such dir poisons every later per-dir read with
    // UNABLE_TO_INFER_SCHEMA. Skip publishing it: union-state merges are
    // idempotent, so an absent empty delta reads identically to a present
    // one, and a replay of the batch recomputes empty and skips again.
    if (partitionCols.nonEmpty && !hasParquetFile(tmp)) {
      deleteTree(tmp)
      return
    }
    def publish(id: Long, attempt: Int): Unit =
      try { Files.move(tmp.toPath, deltaDir(targetDir, id).toPath, StandardCopyOption.ATOMIC_MOVE) }
      catch {
        case e: FileSystemException if oob =>
          if (attempt > 5) {
            deleteTree(tmp)
            throw new IllegalStateException(
              s"AppendState: out-of-band delta id allocation kept colliding " +
                s"on $targetDir ($attempt attempts) — append-only state " +
                "dirs require a SINGLE writer process (out-of-band ids are " +
                "check-then-act); serialize writers or give each its own dir", e)
          }
          publish(math.max(nextFreeId(targetDir), id + 1), attempt + 1)
      }
    publish(batchId, 1)
  }

  /** Any schema-bearing parquet part file anywhere under `dir`? */
  private def hasParquetFile(dir: File): Boolean =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).exists { f =>
      (f.isFile && f.getName.endsWith(".parquet")) ||
        (f.isDirectory && hasParquetFile(f))
    }

  /** The raw union of base + committed deltas. Rows may repeat across
    * deltas (redelivery in later batches) — callers apply their
    * idempotent merge on top. None before the first append. Each dir is
    * read as its OWN partition-discovery root (basePath = the dir), so a
    * bucketed layout's `bucket=K` subdirs surface as a partition column
    * without the `delta=`/`base=` level confusing discovery — and a
    * filter on that column pushes into every union branch's scan as a
    * PartitionFilter (file-level pruning per delta). */
  def raw(spark: SparkSession, targetDir: String): Option[DataFrame] = {
    val base = baseId(targetDir)
    rawFrom(spark, targetDir, base, deltaIds(targetDir))
  }

  /** The union of ONE observed (base, deltas) snapshot — [[compact]] folds
    * exactly the snapshot it decided on, never a re-listed view: a delta
    * published between the decision and a re-list would otherwise land in
    * the new base AND survive as a delta above the marker, duplicating its
    * rows for every reader whose merge is not idempotent (the alert log's
    * identity fold). */
  private def rawFrom(spark: SparkSession, targetDir: String, base: Long,
                      deltas: Seq[Long]): Option[DataFrame] = {
    val dirs = (if (base >= 0) Seq(baseDir(targetDir, base).toString) else Nil) ++
      deltas.map(id => deltaDir(targetDir, id).toString)
    if (dirs.isEmpty) None
    else Some(dirs.map(d => spark.read.option("basePath", d).parquet(d))
      .reduce(_.unionByName(_)))
  }

  /** Fold base + all current deltas into a fresh compacted base via
    * `merge` (the state's own idempotent reduction). Protocol mirrors
    * [[StateCommit]]: the new base lands in a FRESH `base=<upTo>` dir, the
    * `.base` marker flips via atomic rename (the commit point), then the
    * folded deltas and old base are deleted best-effort (leftovers are
    * garbage, never state — readers filter on the marker). */
  def compact(spark: SparkSession, targetDir: String,
              merge: DataFrame => DataFrame,
              partitionCols: Seq[String] = Nil): Unit = {
    val folded = deltaIds(targetDir)
    if (folded.isEmpty) return
    val upTo = folded.max
    val all = rawFrom(spark, targetDir, baseId(targetDir), folded).get
    val target = baseDir(targetDir, upTo)
    if (target.exists()) deleteTree(target) // orphan from a previous crash
    // one pass: the fold streams into the fresh base (it never reads the
    // dir it writes, so nothing state-sized is materialized first)
    val merged = merge(all)
    val w = merged.write
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(target.toString)
    // Unlike an empty delta (skippable), an empty base MUST exist — the
    // marker flip below is what retires the folded deltas — so republish a
    // zero-row partitioned base unpartitioned: the schema-only part file
    // keeps the per-dir read well-formed, and unionByName absorbs the
    // column-order difference vs partition-discovered deltas. The
    // republish recomputes the fold, which is empty here.
    if (partitionCols.nonEmpty && !hasParquetFile(target)) {
      deleteTree(target)
      merged.write.parquet(target.toString)
    }
    writeAtomically(baseMarker(targetDir), upTo.toString)
    // Retire by LISTING, not by the folded set: a previous compaction that
    // crashed after its marker flip left folded-but-undeleted delta dirs
    // (ids ≤ the marker) and a superseded base dir that no later fold
    // would revisit via `folded`/`oldBase` — readers filter on the marker
    // so they are invisible, but without this sweep the disk leak is
    // permanent. Only this module's own numbered entries are touched.
    sweep(new File(targetDir)) {
      case Numbered("delta", id) => id.toLong <= upTo
      case Numbered("base", id) => id.toLong != upTo
      case _ => false
    }
  }

  /** Default compaction trigger, and the default every stream's
    * applyBatch now applies: a long-lived stream otherwise accumulates one
    * delta dir per micro-batch and read amplification grows UNBOUNDED
    * until someone remembers the manual compact call (the round-15 gap).
    * 8 keeps merge-on-read at O(base + 8·batch) while amortizing each
    * O(state) fold over 8 O(batch) appends; pass ≤ 0 to a stream's
    * `compactEvery` to opt back out (e.g. when an external compactor owns
    * the fold schedule). */
  val DefaultCompactEvery = 8

  /** The LSM trigger condition, centralized: true when `every` > 0 and at
    * least that many deltas await folding on `targetDir`. Streams whose
    * fold spans SEVERAL state dirs (their own `compact`) test this on
    * their largest dir and run their fold. One definition — a future
    * policy change (e.g. byte-based) edits one place, not every
    * applyBatch. */
  def compactionDue(targetDir: String, every: Int): Boolean =
    every > 0 && deltaIds(targetDir).size >= every
}
