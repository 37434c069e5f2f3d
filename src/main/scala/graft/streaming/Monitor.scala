package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, min, pmod, struct}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one monitor skeleton. Every stream monitor runs the reference's
  * loop (js:248): tail a change stream, batch it, apply each batch
  * idempotently, checkpoint. Only the per-batch `slice`, the `merge` and
  * the state kind differ between monitors, so the rest lives here:
  *  - [[fileStream]], the file source, its batches listed on the driver;
  *  - [[run]], the trigger loop and the only `writeStream`;
  *  - [[Additive]], [[Union]] and [[Ledgered]], the three state kinds,
  *    each with one `applyBatch`, `state`, `compact` and `batchAnswer`,
  *    the last the batch form of the composition `applyBatch` commits.
  * A monitor object extends its kind, or builds one per call when its
  * slice takes a parameter, and writes only its slice, merge, reports and
  * a `start` that names its source. */
object Monitor {

  /** A file-source stream over `dir`, resolved on a session the stream
    * owns. That session lists each micro-batch's files (and, on restart,
    * the last committed batch's) on the driver, as the source already
    * lists its directory every trigger; on the caller's conf, a batch of
    * more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) files would cost a Spark job of one task per file. The analyzed
    * plan is then re-rooted on `spark`, so the query registers with
    * `spark.streams` and its listeners while the source keeps the owned
    * session. The clone carries the caller's conf as it is at this call: a
    * relation reads files with the conf of the session that resolved it. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType,
                 format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame = {
    val lister = GraftColumnBridge.cloneSession(spark)
    lister.conf.set(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key, Int.MaxValue.toLong)
    GraftColumnBridge.ofRows(spark,
      lister.readStream.schema(schema).options(options).format(format).load(dir))
  }

  /** The parquet schema of the files already in `dir`, else `fallback`:
    * a file stream needs its schema up front, and a monitor deployed
    * before its first file lands must still start. */
  def observedSchema(spark: SparkSession, dir: String, fallback: StructType): StructType =
    try spark.read.parquet(dir).schema
    catch { case NonFatal(_) => fallback }

  /** A parquet [[fileStream]] over `dir` of the `columns` (DDL) a monitor
    * reads, typed as the files encode them ([[observedSchema]]). */
  def observedStream(spark: SparkSession, dir: String, columns: String): DataFrame = {
    val wanted = StructType.fromDDL(columns)
    fileStream(spark, dir, observedSchema(spark, dir, wanted))
      .select(wanted.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** The trigger loop: every micro-batch of `source` goes to `apply` with
    * its batch id, progress checkpointed in `checkpointDir` (state dir and
    * checkpoint dir live and die as a unit). `availableNow` drains what
    * exists and stops (tests, replays); otherwise a batch every 5 s, the
    * reference's flush cadence (js:349). */
  def run(source: DataFrame, checkpointDir: String, availableNow: Boolean)
         (apply: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime("5 seconds"))
      .foreachBatch(apply)
      .start()

  /** A monitor's state in `targetDir`, as one of the three kinds below. */
  sealed abstract class Kind {

    /** One batch's contribution to the state. */
    def slice(batch: DataFrame): DataFrame

    /** Fold `rows` into `state`. */
    def merge(state: DataFrame, rows: DataFrame): DataFrame

    /** Apply one micro-batch. A replayed `batchId` is a no-op; a negative
      * one is an out-of-band apply with no checkpoint identity, committed
      * under the next free id with no replay guard (sound only when the
      * merge is idempotent, so only [[Union]] defaults to it).
      * `compactEvery` is the fold trigger of the kinds that keep deltas
      * (≤ 0 never folds). */
    def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String, batchId: Long,
                   compactEvery: Int = AppendState.DefaultCompactEvery): Unit

    /** The live state: every applied batch, never a half-written one. */
    def state(spark: SparkSession, targetDir: String): DataFrame

    /** Fold what the state keeps per batch, bounding read amplification. */
    def compact(spark: SparkSession, targetDir: String): Unit

    /** The state `rows` leave when applied as one batch to an empty state,
      * through the same seed and fold as [[applyBatch]]: the batch form a
      * replay of the stream must equal (prefix consistency). */
    def batchAnswer(rows: DataFrame): DataFrame
  }

  /** State rewritten whole per batch under [[StateCommit]]: the batch's
    * `slice` merges into the live version and streams into a fresh one,
    * the marker flip publishes it, and the batch-id guard refuses a
    * replay. That guard is what makes an ADDITIVE merge (counts, sketches)
    * exactly-once; for an idempotent one it only skips the replay's I/O.
    * Every version is the whole state, so there is nothing to compact. */
  abstract class Additive extends Kind {
    /** The batch's slice (itself a valid state) merged into `base`, or
      * into nothing before the first batch. */
    private def fold(base: Option[DataFrame], batch: DataFrame): DataFrame = {
      val s = slice(batch)
      merge(base.getOrElse(s.limit(0)), s)
    }

    def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
                   batchId: Long, compactEvery: Int): Unit =
      StateCommit.applyBatch(spark, targetDir, batchId)(fold(_, batch))

    def batchAnswer(rows: DataFrame): DataFrame = fold(None, rows)

    def state(spark: SparkSession, targetDir: String): DataFrame =
      StateCommit.state(spark, targetDir)

    def compact(spark: SparkSession, targetDir: String): Unit = ()
  }

  /** Monotone union state under [[AppendState]]: each batch appends its
    * `slice`, reduced by `merge`, as an immutable delta, so the per-batch
    * write is O(batch) and a replayed id is skipped; readers see the merge
    * of base ∪ deltas, and once `compactEvery` deltas wait they fold into
    * a new base by the same merge. `merge` must be idempotent, which is
    * what absorbs a row redelivered in a later batch. */
  abstract class Union extends Kind {
    def slice(batch: DataFrame): DataFrame = batch
    /** The state's columns (DDL), typing it before the first batch. */
    protected def emptySchema: String
    private def reduce(rows: DataFrame) = merge(rows.limit(0), rows)

    def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
                   batchId: Long = -1L, compactEvery: Int): Unit = {
      AppendState.append(batchAnswer(batch), targetDir, batchId)
      if (AppendState.compactionDue(targetDir, compactEvery)) compact(spark, targetDir)
    }

    def batchAnswer(rows: DataFrame): DataFrame = reduce(slice(rows))

    def state(spark: SparkSession, targetDir: String): DataFrame =
      AppendState.raw(spark, targetDir).map(reduce).getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType.fromDDL(emptySchema)))

    def compact(spark: SparkSession, targetDir: String): Unit =
      AppendState.compact(spark, targetDir, reduce)
  }

  /** A [[Union]] of distinct rows: membership state, merged by set union. */
  class Members(protected val emptySchema: String) extends Union {
    def merge(state: DataFrame, rows: DataFrame): DataFrame =
      state.unionByName(rows).distinct()
  }

  /** A posting index under [[AppendState]]: rows carrying the long column
    * `key`, each delta (and compacted base) laid out in Hive-style
    * `bucket=K` subdirs, K = pmod(key, 16). A batch's probe reads only the
    * buckets of its own keys, so the scan prunes whole state files
    * (PartitionFilters) instead of reading the full index: at 100 TB the
    * index is the corpus-sized state, and a small batch touches a bounded
    * subset of buckets. The bucket column lives only in the state layout
    * and no probe returns it. Duplicate rows are merged by distinct, at
    * compaction and by each reader. */
  private[streaming] final class Postings(key: String) {
    private val IndexBuckets = 16
    private def bucketed(rows: DataFrame): DataFrame =
      rows.withColumn("bucket", pmod(col(key), lit(IndexBuckets.toLong)).cast("int"))

    def append(rows: DataFrame, targetDir: String, batchId: Long): Unit =
      AppendState.append(bucketed(rows), targetDir, batchId, partitionCols = Seq("bucket"))

    /** The raw postings in the buckets of `batch`'s keys, duplicates kept;
      * None before the first append. A collect of at most 16 buckets
      * decides the partition filter, which is lossless: a posting that
      * matches a batch key lies in that key's bucket. */
    def probe(spark: SparkSession, targetDir: String, batch: DataFrame): Option[DataFrame] = {
      val buckets = bucketed(batch.select(col(key))).select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      AppendState.raw(spark, targetDir)
        .map(_.filter(col("bucket").isin(buckets: _*)).drop("bucket"))
    }

    def compact(spark: SparkSession, targetDir: String): Unit =
      AppendState.compact(spark, targetDir, _.distinct(), partitionCols = Seq("bucket"))
  }

  /** One row per `key`: the least struct of its `payload` columns, a pick
    * that is commutative, associative and idempotent, so a redelivered row
    * cannot move it (the keyed merge of survivor and verdict states). */
  def minByKey(rows: DataFrame, key: String, payload: String*): DataFrame =
    rows.groupBy(col(key)).agg(min(struct(payload.map(col): _*)).as("m"))
      .select(col(key) +: payload.map(c => col(s"m.$c").as(c)): _*)

  /** [[Additive]] state made exactly-once without event time to dedup on:
    * the grid `<target>/grid` is guarded by `<target>/seen`, an
    * [[AppendState]] ledger of every (long) `key` applied. Per batch: dedup
    * by `key`, anti-join the ledger (a row redelivered in a later batch
    * dies here), fold what is new into the grid under the batch-id guard,
    * then append its keys to the ledger under the same id. A replay before
    * the grid flip re-derives the same new rows (the ledger has not moved);
    * after it, the marker refuses the fold and only the keys are appended
    * again, which is idempotent. `state` is the grid; `compact` folds the
    * ledger, the part that grows with every batch. */
  abstract class Ledgered extends Additive {
    protected def key: String
    private lazy val ledger = new Members(s"$key BIGINT")
    private def gridDir(targetDir: String) = s"$targetDir/grid"
    private def seenDir(targetDir: String) = s"$targetDir/seen"
    private def unique(rows: DataFrame) = rows.dropDuplicates(key)

    override def batchAnswer(rows: DataFrame): DataFrame = super.batchAnswer(unique(rows))

    override def applyBatch(spark: SparkSession, batch: DataFrame, targetDir: String,
                            batchId: Long, compactEvery: Int): Unit = {
      val fresh = unique(batch)
      val newRows = AppendState.raw(spark, seenDir(targetDir))
        .fold(fresh)(seen => fresh.join(seen.select(key), Seq(key), "left_anti"))
        .localCheckpoint(true) // the grid fold and the ledger append read it once each
      super.applyBatch(spark, newRows, gridDir(targetDir), batchId, compactEvery)
      AppendState.append(newRows.select(key), seenDir(targetDir), batchId)
      if (AppendState.compactionDue(seenDir(targetDir), compactEvery)) compact(spark, targetDir)
    }

    override def state(spark: SparkSession, targetDir: String): DataFrame =
      super.state(spark, gridDir(targetDir))

    override def compact(spark: SparkSession, targetDir: String): Unit =
      ledger.compact(spark, seenDir(targetDir))

    /** The applied-key ledger, distinct: one 8-byte row per key ever
      * applied (exposed for growth-class pins). */
    def seenIds(spark: SparkSession, targetDir: String): DataFrame =
      ledger.state(spark, seenDir(targetDir))
  }
}
