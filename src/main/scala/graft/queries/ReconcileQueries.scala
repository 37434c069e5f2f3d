package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{customer, eventsInRange, orderedRows}
import graft.operators.{CdcOps, Reconcile}

/** Reconciliation queries — the relational re-expression of the reference's
  * `compareDocuments` / `compareDocumentsInTimeWindow` tools
  * (`mongodb-cdc-program.js:399–538`). Source table = `customer`; target =
  * a deterministic drifted replica (`Reconcile.driftedCustomer`) so both
  * Spark and the DuckDB oracle can reconstruct the exact same pair of tables
  * from the fixtures alone.
  */
object ReconcileQueries {
  type Q = (SparkSession, String) => DataFrame

  private val key = "c_custkey"
  private def fields = Reconcile.customerFields

  // -- oracle-side building blocks -------------------------------------------

  /** SQL twin of [[Reconcile.driftedCustomer]]. */
  private val driftedSql =
    """SELECT c_custkey, c_name, c_nationkey,
      |       CASE WHEN c_custkey % 7 = 2 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
      |       CASE WHEN c_custkey % 11 = 3 THEN 'ALTERED' ELSE c_mktsegment END AS c_mktsegment
      |FROM customer WHERE c_custkey % 13 <> 3
      |UNION ALL
      |SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer WHERE c_custkey % 17 = 5""".stripMargin

  /** SQL twin of the canonical field encodings (Reconcile.plain / .cents). */
  private def encSql(side: String, f: String): String =
    if (f == "c_acctbal") s"CAST(CAST(round($side.c_acctbal * 100, 0) AS BIGINT) AS VARCHAR)"
    else s"CAST($side.$f AS VARCHAR)"

  /** SQL twin of Reconcile.joined: full-outer join with existence flags and
    * canonically-encoded s_/t_ field pairs, over given src/tgt relations. */
  private def joinedSql(srcRel: String, tgtRel: String): String = {
    val encoded = fields
      .map(f => s"${encSql("s", f.name)} AS s_${f.name}, ${encSql("t", f.name)} AS t_${f.name}")
      .mkString(",\n|         ")
    s"""SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
       |         s.c_custkey IS NOT NULL AS in_s, t.c_custkey IS NOT NULL AS in_t,
       |         $encoded
       |  FROM $srcRel s FULL OUTER JOIN $tgtRel t ON s.c_custkey = t.c_custkey""".stripMargin
  }

  private def rowHasDiffSql: String =
    (Seq("NOT in_s", "NOT in_t") ++
      fields.map(f => s"s_${f.name} IS DISTINCT FROM t_${f.name}")).mkString(" OR ")

  /** The UNION ALL body of the per-field diff over a CTE named `j` —
    * shared by [[fieldDiffSql]] and the scoped-diff oracle. */
  private def diffArmsSql: String = {
    val mismatchArms = fields.map { f =>
      s"""SELECT c_custkey, '${f.name}' AS field, 'value_mismatch' AS diff_type,
         |       s_${f.name} AS src_val, t_${f.name} AS tgt_val
         |FROM j WHERE in_s AND in_t AND s_${f.name} IS DISTINCT FROM t_${f.name}""".stripMargin
    }
    s"""SELECT c_custkey, '_doc_' AS field,
       |       CASE WHEN in_s THEN 'missing_in_target' ELSE 'missing_in_source' END AS diff_type,
       |       CAST(NULL AS VARCHAR) AS src_val, CAST(NULL AS VARCHAR) AS tgt_val
       |FROM j WHERE NOT in_s OR NOT in_t
       |${mismatchArms.map(a => s"UNION ALL\n$a").mkString("\n")}""".stripMargin
  }

  /** SQL twin of [[Reconcile.fieldDiff]] over given src/tgt relations:
    * `_doc_` rows for one-sided keys + one row per mismatching field. */
  private def fieldDiffSql(srcRel: String, tgtRel: String): String =
    s"""WITH drifted AS ($driftedSql),
       |j AS (${joinedSql(srcRel, tgtRel)})
       |SELECT * FROM (
       |$diffArmsSql
       |) ORDER BY c_custkey, field""".stripMargin

  // -- queries ---------------------------------------------------------------

  /** js:457–475 table-scale: one row per differing field / one-sided key. */
  private val joinFullOuterDiff: Q = (s, d) =>
    Reconcile.fieldDiff(customer(s, d), Reconcile.driftedCustomer(customer(s, d)), key, fields)
      .transform(orderedRows(_, key, "field"))

  /** js:409–432 — per-key existence flags source vs target. */
  private val joinExistence: Q = (s, d) =>
    Reconcile.existence(customer(s, d), Reconcile.driftedCustomer(customer(s, d)), key)
      .transform(orderedRows(_, key))

  /** js:520–525 — {totalDocumentsCompared, documentsWithDifferences}. */
  private val aggDiffSummary: Q = (s, d) =>
    Reconcile.diffSummary(customer(s, d), Reconcile.driftedCustomer(customer(s, d)), key, fields)

  /** js:423–432 "missing in target" as a set op — EXCEPT of the key sets. */
  private val setopExcept: Q = (s, d) =>
    customer(s, d).select(col(key))
      .except(Reconcile.driftedCustomer(customer(s, d)).select(col(key)))
      .transform(orderedRows(_, key))

  /** Keys present on BOTH sides (js:459's key-set union, restricted to the
    * comparable middle) — INTERSECT, completing the set-op family. */
  private val setopIntersect: Q = (s, d) =>
    customer(s, d).select(col(key))
      .intersect(Reconcile.driftedCustomer(customer(s, d)).select(col(key)))
      .transform(orderedRows(_, key))

  /** js:399–454 — `compareDocuments(documentId)`: the single-document
    * troubleshooting tool (README.md:195–198). Point lookup of ONE key on
    * both sides (the key predicate pushes to the source scan), then the same
    * per-field diff the table-scale path uses — existence is encoded the
    * same way (`_doc_` rows for one-sided keys; no rows at all = identical).
    * Key 2 is a planted value-mismatch: %7 = 2 drifts `c_acctbal`, %13 ≠ 3
    * keeps it present on both sides. */
  private val docKey = 2L
  private val reconcileDoc: Q = (s, d) =>
    Reconcile.fieldDiff(
      customer(s, d).filter(col(key) === docKey),
      Reconcile.driftedCustomer(customer(s, d)).filter(col(key) === docKey),
      key, fields)
      .transform(graft.Tables.orderedReport(_, key, "field"))

  /** Flagship (SURVEY §3.2, js:478–538): change-window scan → distinct keys
    * → source/target restricted to those keys → single-pass diff summary.
    * The reference's N+1 `findOne` loop (js:503–505) is two semi-joins and
    * one full-outer join — three shuffles total, no driver-side iteration. */
  def reconcileWindow(s: SparkSession, d: String): DataFrame = {
    val keys = CdcOps.dropDeletes(
      eventsInRange(s, d, "2024-01-05 00:00:00", "2024-01-20 00:00:00")
        .withColumn("op_type", graft.Tables.opType))
      .select(col("user_id").as(key))
      .distinct()
    val src = customer(s, d).join(keys, Seq(key), "left_semi")
    val tgt = Reconcile.driftedCustomer(customer(s, d)).join(keys, Seq(key), "left_semi")
    Reconcile.diffSummary(src, tgt, key, fields)
  }

  private val reconcileWindowQ: Q = reconcileWindow

  /** Referential-integrity audit after a PARTIAL backfill — the
    * parent/child consistency check a CDC replication validator runs
    * alongside the per-doc diff: the target has replicated orders only
    * from [[RefintCutoff]] onward (the mid-backfill state every initial
    * sync passes through), so every lineitem whose parent order predates
    * the cutoff is an ORPHAN in the target. One left join of the child
    * fact to the replicated parent keyset (both sides hash on the order
    * key — SortMergeJoin at scale) rolled up per return flag with an
    * integer orphan-permille. Non-vacuous by construction: the cutoff
    * splits the fixture's 1995–2001 order span. */
  private val RefintCutoff = "1998-01-01"
  private val reconcileRefint: Q = (s, d) => {
    val target = Tables.orders(s, d)
      .filter(col("o_orderdate") >= to_timestamp(lit(RefintCutoff)))
      .select(col("o_orderkey"), lit(true).as("__replicated"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(target, col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__replicated").isNull, 1)).as("n_orphans"))
      .withColumn("orphan_permille",
        expr("n_orphans * 1000 div greatest(n_lines, 1L)"))
      .transform(graft.Tables.orderedReport(_, "l_returnflag"))
  }

  /** Bucketized aggregate-fingerprint reconciliation
    * ([[Reconcile.bucketChecksum]]) — the 100 TB-first consistency check:
    * 256 key-buckets, exact integer fingerprints per side (count, Σ key,
    * Σ nationkey, Σ balance-cents, Σ name/segment lengths, key-weighted
    * cross term), per-bucket match booleans + the `bucket_clean` scoping
    * predicate the expensive row diff then restricts to. Each side is ONE
    * map-side-combined aggregate to 256 rows; nothing else moves. */
  private val checksumFields = Seq(
    Reconcile.intPlain("c_nationkey"), Reconcile.intCents("c_acctbal"),
    Reconcile.intLen("c_name"), Reconcile.intLen("c_mktsegment"))

  private val reconcileChecksum: Q = (s, d) =>
    Reconcile.bucketChecksum(
      customer(s, d), Reconcile.driftedCustomer(customer(s, d)), key,
      checksumFields, buckets = 256)

  /** Tier 2 of the checksum protocol: the row-level field diff SCOPED to
    * the fingerprint's dirty buckets — the composition a 100 TB
    * consistency checker actually executes (tier 1 reduces each side to
    * 256 rows; tier 2 full-outer-joins ONLY the buckets that can possibly
    * differ). The dirty-bucket list is ≤ buckets rows, broadcast onto
    * both scans as a semi-join runtime filter, so the expensive join's
    * input shrinks to the damaged slice — on a mostly-clean replica the
    * diff touches almost nothing. Fingerprints are multi-component
    * (count, Σkey, per-field sums, key-weighted cross term), so a
    * differing row perturbs ≥ 1 component except under engineered
    * cancellation; ReconcileSpec pins scoped ≡ full on the planted
    * drift. */
  private val reconcileScopedDiff: Q = (s, d) => {
    val src = customer(s, d)
    val tgt = Reconcile.driftedCustomer(customer(s, d))
    val dirty = Reconcile.bucketChecksum(src, tgt, key, checksumFields, buckets = 256)
      .filter(!col("bucket_clean")).select(col("bucket"))
    def scoped(df: DataFrame) =
      df.join(broadcast(dirty), pmod(col(key), lit(256L)) === col("bucket"), "left_semi")
    Reconcile.fieldDiff(scoped(src), scoped(tgt), key, fields)
      .select(pmod(col(key), lit(256L)).as("bucket"), col(key), col("field"),
        col("diff_type"), col("src_val"), col("tgt_val"))
      .transform(orderedRows(_, key, "field"))
  }

  val queries: Map[String, Q] = Map(
    "join_full_outer_diff" -> joinFullOuterDiff,
    "join_existence" -> joinExistence,
    "agg_diff_summary" -> aggDiffSummary,
    "setop_except" -> setopExcept,
    "setop_intersect" -> setopIntersect,
    "reconcile_doc" -> reconcileDoc,
    "reconcile_refint" -> reconcileRefint,
    "reconcile_checksum" -> reconcileChecksum,
    "reconcile_scoped_diff" -> reconcileScopedDiff,
    "reconcile_window" -> reconcileWindowQ)

  /** One side's 256-bucket fingerprint aggregate — the SQL twin of
    * [[Reconcile.bucketChecksum]]'s per-side reduction (HUGEINT sums stand
    * in for the decimal(38,0) exact sums; the per-row cross polynomial is
    * identical integer arithmetic). */
  private def checksumSideSql(rel: String): String = {
    val m = Reconcile.ChecksumMod
    def term(enc: String) =
      s"((((c_custkey % $m) * (($enc) % $m)) % $m + $m) % $m)"
    val cross = Seq("c_nationkey", "CAST(round(c_acctbal * 100, 0) AS BIGINT)",
      "length(c_name)", "length(c_mktsegment)").map(term).mkString(" + ")
    s"""SELECT c_custkey % 256 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |       sum(CAST(c_custkey AS HUGEINT)) AS key_f,
       |       sum(CAST($cross AS HUGEINT)) AS cross_f,
       |       sum(CAST(c_nationkey AS HUGEINT)) AS nat_f,
       |       sum(CAST(CAST(round(c_acctbal * 100, 0) AS BIGINT) AS HUGEINT)) AS bal_f,
       |       sum(CAST(length(c_name) AS HUGEINT)) AS name_f,
       |       sum(CAST(length(c_mktsegment) AS HUGEINT)) AS seg_f
       |FROM $rel GROUP BY 1""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "join_full_outer_diff" -> fieldDiffSql("customer", "drifted"),

    "reconcile_checksum" ->
      s"""WITH drifted AS ($driftedSql),
         |s AS (${checksumSideSql("customer")}),
         |t AS (${checksumSideSql("drifted")})
         |SELECT coalesce(s.bucket, t.bucket) AS bucket,
         |       CAST(coalesce(s.n, 0) AS BIGINT) AS n_src,
         |       CAST(coalesce(t.n, 0) AS BIGINT) AS n_tgt,
         |       s.key_f IS NOT DISTINCT FROM t.key_f AS key_match,
         |       s.cross_f IS NOT DISTINCT FROM t.cross_f AS cross_match,
         |       s.nat_f IS NOT DISTINCT FROM t.nat_f AS c_nationkey_match,
         |       s.bal_f IS NOT DISTINCT FROM t.bal_f AS c_acctbal_match,
         |       s.name_f IS NOT DISTINCT FROM t.name_f AS c_name_match,
         |       s.seg_f IS NOT DISTINCT FROM t.seg_f AS c_mktsegment_match,
         |       (s.n IS NOT DISTINCT FROM t.n
         |        AND s.key_f IS NOT DISTINCT FROM t.key_f
         |        AND s.cross_f IS NOT DISTINCT FROM t.cross_f
         |        AND s.nat_f IS NOT DISTINCT FROM t.nat_f
         |        AND s.bal_f IS NOT DISTINCT FROM t.bal_f
         |        AND s.name_f IS NOT DISTINCT FROM t.name_f
         |        AND s.seg_f IS NOT DISTINCT FROM t.seg_f) AS bucket_clean
         |FROM s FULL OUTER JOIN t ON s.bucket = t.bucket
         |ORDER BY 1""".stripMargin,

    "reconcile_scoped_diff" -> {
      val scopedSrc =
        "(SELECT * FROM customer WHERE c_custkey % 256 IN (SELECT bucket FROM dirty))"
      val scopedTgt =
        "(SELECT * FROM drifted WHERE c_custkey % 256 IN (SELECT bucket FROM dirty))"
      s"""WITH drifted AS ($driftedSql),
         |s AS (${checksumSideSql("customer")}),
         |t AS (${checksumSideSql("drifted")}),
         |dirty AS (SELECT coalesce(s.bucket, t.bucket) AS bucket
         |          FROM s FULL OUTER JOIN t ON s.bucket = t.bucket
         |          WHERE NOT (s.n IS NOT DISTINCT FROM t.n
         |                 AND s.key_f IS NOT DISTINCT FROM t.key_f
         |                 AND s.cross_f IS NOT DISTINCT FROM t.cross_f
         |                 AND s.nat_f IS NOT DISTINCT FROM t.nat_f
         |                 AND s.bal_f IS NOT DISTINCT FROM t.bal_f
         |                 AND s.name_f IS NOT DISTINCT FROM t.name_f
         |                 AND s.seg_f IS NOT DISTINCT FROM t.seg_f)),
         |j AS (${joinedSql(scopedSrc, scopedTgt)})
         |SELECT c_custkey % 256 AS bucket, c_custkey, field, diff_type, src_val, tgt_val
         |FROM (
         |$diffArmsSql
         |) ORDER BY 2, 3""".stripMargin
    },

    "reconcile_doc" -> fieldDiffSql(
      s"(SELECT * FROM customer WHERE c_custkey = $docKey)",
      s"(SELECT * FROM drifted WHERE c_custkey = $docKey)"),

    "reconcile_refint" ->
      s"""WITH tgt AS (SELECT o_orderkey FROM orders
         |             WHERE o_orderdate >= TIMESTAMP '$RefintCutoff 00:00:00')
         |SELECT l_returnflag, count(*) AS n_lines,
         |       CAST(count(CASE WHEN t.o_orderkey IS NULL THEN 1 END) AS BIGINT) AS n_orphans,
         |       count(CASE WHEN t.o_orderkey IS NULL THEN 1 END) * 1000
         |         // greatest(count(*), 1) AS orphan_permille
         |FROM lineitem l LEFT JOIN tgt t ON l.l_orderkey = t.o_orderkey
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "join_existence" ->
      s"""WITH drifted AS ($driftedSql)
         |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
         |       s.c_custkey IS NOT NULL AS in_source,
         |       t.c_custkey IS NOT NULL AS in_target
         |FROM (SELECT DISTINCT c_custkey FROM customer) s
         |FULL OUTER JOIN (SELECT DISTINCT c_custkey FROM drifted) t
         |  ON s.c_custkey = t.c_custkey
         |ORDER BY c_custkey""".stripMargin,

    "agg_diff_summary" ->
      s"""WITH drifted AS ($driftedSql),
         |j AS (${joinedSql("customer", "drifted")})
         |SELECT count(*) AS total_compared,
         |       CAST(sum(CASE WHEN $rowHasDiffSql THEN 1 ELSE 0 END) AS BIGINT) AS with_differences
         |FROM j""".stripMargin,

    "setop_except" ->
      s"""WITH drifted AS ($driftedSql)
         |SELECT c_custkey FROM customer
         |EXCEPT
         |SELECT c_custkey FROM drifted
         |ORDER BY c_custkey""".stripMargin,

    "setop_intersect" ->
      s"""WITH drifted AS ($driftedSql)
         |SELECT c_custkey FROM customer
         |INTERSECT
         |SELECT c_custkey FROM drifted
         |ORDER BY c_custkey""".stripMargin,

    "reconcile_window" ->
      s"""WITH drifted AS ($driftedSql),
         |keys AS (SELECT DISTINCT user_id AS c_custkey FROM events
         |         WHERE event_type IS DISTINCT FROM 'error'
         |           AND ts >= TIMESTAMP '2024-01-05 00:00:00'
         |           AND ts < TIMESTAMP '2024-01-20 00:00:00'),
         |src AS (SELECT c.* FROM customer c
         |        WHERE EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = c.c_custkey)),
         |tgt AS (SELECT c.* FROM drifted c
         |        WHERE EXISTS (SELECT 1 FROM keys k WHERE k.c_custkey = c.c_custkey)),
         |j AS (${joinedSql("src", "tgt")})
         |SELECT count(*) AS total_compared,
         |       CAST(sum(CASE WHEN $rowHasDiffSql THEN 1 ELSE 0 END) AS BIGINT) AS with_differences
         |FROM j""".stripMargin)
}
