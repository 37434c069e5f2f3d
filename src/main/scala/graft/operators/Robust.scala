package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared robust-statistics machinery: exact per-group median / MAD /
  * outlier counts off ONE integer-value histogram — the discipline both
  * `agg_robust_outliers` (event values in cents) and `ext_length_outliers`
  * (document token counts) ride, extracted so the two cannot drift.
  *
  * Contract: `hist` is a (group, value, hn) frame — the corpus already
  * collapsed once to a DOMAIN-bounded histogram (map-side combined). Every
  * pass here re-groups that histogram, never the corpus: the median is an
  * integer-rank cumulative-sum min (no data-sized sort), the deviation
  * histogram |value − med| is histogram-sized, and the MAD is the same
  * rank pick over it. Lower-median (rank ⌈n/2⌉) convention keeps every
  * statistic an exact integer of the input's unit — engine-deterministic
  * at any scale. */
object Robust {

  /** Per-group Spearman rank correlation in exact integer micro-units —
    * the "does metric A rank like metric B" QC tie (length-vs-quality bias,
    * score-vs-score agreement) without Pearson's outlier fragility.
    *
    * Determinism discipline: ranks are DOUBLED average ranks off each
    * value's histogram — d2r(v) = 2·(#strictly smaller) + tf(v) + 1, an
    * integer even under ties — and ρ is the classic 1 − 6Σd²/(n(n²−1))
    * evaluated on them: ρ_micro = 10⁶ − (3·Σ(d2rx−d2ry)²·10⁶) div
    * (2·n·(n²−1)), every step an exact non-negative-numerator floor
    * division both engines share. (With ties this is the standard
    * no-tie-correction Spearman — a defined statistic, bit-identical
    * cross-engine, which is what an oracle-gated monitor needs.)
    * Σd² rides DECIMAL(38): it reaches 4n³, past 2⁶³ near a billion rows
    * per group. Groups of one row emit ρ = null (undefined).
    *
    * Shape: per metric ONE domain-histogram aggregate (map-side combined,
    * value-domain-sized) + a cumulative window over that tiny frame — the
    * [[madOutliers]] discipline — then two histogram-sized joins back onto
    * the rows and one per-group aggregate. No data-sized sort anywhere. */
  def spearmanMicro(rows: DataFrame, groupCol: String,
                    xCol: String, yCol: String): DataFrame = {
    def d2ranks(c: String, v: String, r: String): DataFrame = {
      val h = rows.groupBy(col(groupCol), col(c).as(v)).agg(count(lit(1)).as("tf"))
      val cum = Window.partitionBy(col(groupCol)).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("__cum", sum(col("tf")).over(cum))
        .select(col(groupCol), col(v),
          (lit(2L) * (col("__cum") - col("tf")) + col("tf") + 1L).as(r))
    }
    rows.select(col(groupCol), col(xCol).as("__x"), col(yCol).as("__y"))
      .join(d2ranks(xCol, "__x", "__rx"), Seq(groupCol, "__x"))
      .join(d2ranks(yCol, "__y", "__ry"), Seq(groupCol, "__y"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(((col("__rx") - col("__ry")) * (col("__rx") - col("__ry")))
          .cast("decimal(38,0)")).as("__d2"))
      .select(col(groupCol), col("n"),
        when(col("n") > 1L,
          lit(1000000L) - expr("CAST((__d2 * 3000000) div " +
            "(2 * CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n - 1)) AS BIGINT)"))
          .as("rho_micro"))
  }

  /** Per-group (group, __n, med, mad, n_outliers) where n_outliers counts
    * histogram mass beyond `madFactor`·MAD from the median. Callers rename
    * and scale for their output contract.
    *
    * Shape: ONE aggregate gathers each group's histogram into a sorted
    * (value, hn) array — bounded by the value DOMAIN per the caller's
    * histogram contract, never by row count — and the codegen'd
    * [[graft.functions.MadStats]] fold computes all four statistics in a
    * single per-group pass (two-pointer MAD merge, exact integer ranks).
    * The previous window/join pipeline scheduled ~10 histogram-sized
    * stages per call — pure latency; the arithmetic (lower-median rank
    * ⌈n/2⌉, dev-histogram rank pick, factor·MAD mass) is unchanged and the
    * oracle SQL still matches row for row. */
  def madOutliers(hist: DataFrame, groupCol: String, valueCol: String,
                  madFactor: Int = 3): DataFrame = {
    val stats = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MadStats(
        org.apache.spark.sql.GraftColumnBridge.expression(col("__h")), madFactor))
    hist.groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col(valueCol).cast("long").as("v"),
        col("hn").cast("long").as("hn"))))
        .as("__h"))
      .withColumn("__m", stats)
      .select(col(groupCol), col("__m.n").as("__n"), col("__m.med").as("med"),
        col("__m.mad").as("mad"), col("__m.n_outliers").as("n_outliers"))
  }
}
