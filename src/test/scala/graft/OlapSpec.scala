package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Value-level contracts for the round-10 OLAP/ranking/text additions that
  * the fixture oracle alone can't isolate: hierarchical-top-k exactness,
  * ntile balance, autocorrelation bounds, LM-score sign/null structure,
  * phrase-hit mass conservation, and grouping-set lattice consistency. */
class OlapSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, d)

  test("salted two-phase grouped top-k equals the direct single-window ranking") {
    val spend = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(graft.operators.CdcOps.exactSum(col("value")).as("sum_value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sum_value").desc, col("user_id"))
    val direct = spend.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("event_type", "rnk", "user_id", "sum_value")
      .orderBy("event_type", "rnk")
      .collect().toSeq
    assert(q("sort_topk_group").collect().toSeq === direct)
  }

  test("ntile buckets are front-loaded and balanced within 1 per event_type") {
    val sizes = q("window_ntile").groupBy("event_type", "quartile").count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    sizes.groupBy(_._1).foreach { case (et, rows) =>
      val byQ = rows.sortBy(_._2).map(_._3)
      assert(byQ.length === 4, s"$et must fill all 4 quartiles at fixture scale")
      assert(byQ.max - byQ.min <= 1, s"$et quartile sizes unbalanced: ${byQ.toSeq}")
      assert(byQ.sameElements(byQ.sorted.reverse), s"$et remainder must front-load: ${byQ.toSeq}")
    }
  }

  test("autocorrelation r stays in [-1, 1] and both requested lags appear per type") {
    val rows = q("window_autocorr").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(3))
        assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-12, s"|r| > 1: $r")
    }
    val lagsPerType = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    lagsPerType.foreach { case (et, lags) =>
      assert(lags === Set(1L, 7L), s"$et lags: $lags")
    }
  }

  test("LM cross-entropy is positive iff the doc has bigrams, null otherwise") {
    val rows = q("ext_lm_perplexity").collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val nb = r.getLong(1)
      if (nb == 0L) assert(r.isNullAt(2), s"bigram-less doc must score null: $r")
      else assert(r.getDouble(2) > 0.0, s"smoothed bigram prob < 1 forces xent > 0: $r")
    }
  }

  test("phrase hits conserve the top trigram's total occurrence count") {
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("tk"))
    val triCounts = docs.filter(size(col("tk")) >= 3)
      .select(explode(expr("transform(sequence(1, size(tk) - 2), " +
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1), ' ', element_at(tk, i + 2)))")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
    val top = triCounts.orderBy(col("c").desc, col("g")).limit(1).collect()(0)
    val hits = q("ext_phrase_search").collect()
    assert(hits.map(_.getLong(1)).sum === top.getLong(1),
      s"per-doc hits must sum to the corpus count of ${top.getString(0)}")
    hits.foreach(r => assert(r.getLong(1) >= 1L && r.getLong(2) >= 0L))
  }

  test("value quantiles are ordered, observed values, and rank-correct per type") {
    val rows = q("agg_value_quantiles").collect()
    assert(rows.nonEmpty)
    val vals = graft.Tables.events(spark, d)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    rows.foreach { r =>
      val (et, n) = (r.getString(0), r.getLong(1))
      val Seq(p50, p90, p99) = Seq(2, 3, 4).map(r.getDouble)
      assert(p50 <= p90 && p90 <= p99, r.toString)
      val sorted = vals(et)
      assert(n === sorted.length)
      // type-1: the value at 1-indexed rank ⌈p·n/1000⌉
      def rank(p: Int) = sorted(((p * n + 999) / 1000 - 1).toInt) / 100.0
      assert(p50 === rank(500) && p90 === rank(900) && p99 === rank(990), r.toString)
    }
  }

  test("perplexity filter buckets partition the corpus at the fixed cutoffs") {
    val rows = q("ext_ppl_filter").collect()
    assert(rows.length === 500)
    val byBucket = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail", "unscored")))
    assert(byBucket.getOrElse("head", 0) > 0 && byBucket.getOrElse("tail", 0) > 0,
      s"cutoffs must split the fixture non-trivially: $byBucket")
    rows.foreach { r =>
      val kept = r.getBoolean(3)
      assert(kept === Set("head", "middle").contains(r.getString(2)), r.toString)
    }
  }

  test("closed-form CUSUM equals the sequential max(0, C+y) recursion") {
    val daily = graft.Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .orderBy("day").collect().map(_.getLong(1))
    val dd = daily.length.toLong
    val ss = daily.sum
    var cUp = 0L; var cDn = 0L
    val expected = daily.map { n =>
      val y = n * dd - ss
      cUp = math.max(0L, cUp + y)
      cDn = math.max(0L, cDn - y)
      (cUp, cDn)
    }
    val got = q("window_cusum").collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(got.toSeq === expected.toSeq)
  }

  test("grouping-set levels are mutually consistent (lattice sums agree)") {
    val rows = q("agg_grouping_sets").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val fine = rows.filter(_._1 == 0L)
    val byType = rows.filter(_._1 == 1L)
    val byDow = rows.filter(_._1 == 2L)
    val all = rows.filter(_._1 == 3L)
    assert(all.length === 1)
    assert(fine.map(_._4).sum === all.head._4)
    assert(byType.map(_._4).sum === all.head._4)
    assert(byDow.map(_._4).sum === all.head._4)
    // per-type drill-down: the gid=0 rows of a type sum to its gid=1 row
    byType.foreach { case (_, et, _, n) =>
      assert(fine.filter(_._2 == et).map(_._4).sum === n, s"drill-down mismatch for $et")
    }
  }

  test("robust outliers: median/MAD equal the brute-force sorted reference per type") {
    val vals = graft.Tables.events(spark, d)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def lowerMed(xs: Seq[Long]): Long = xs((xs.length + 1) / 2 - 1)
    val got = q("agg_robust_outliers").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    vals.foreach { case (et, xs) =>
      val med = lowerMed(xs)
      val mad = lowerMed(xs.map(x => math.abs(x - med)).sorted)
      val out = xs.count(x => math.abs(x - med) > 3 * mad)
      assert(got(et) === ((xs.length.toLong, med / 100.0, mad / 100.0, out.toLong)), et)
    }
    SessionFrames.release(spark)
  }

  test("transition matrix: rows sum to per-from totals and pair mass = events - users") {
    val rows = q("agg_transition_matrix").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val ev = graft.Tables.events(spark, d)
    val nPairs = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum === nPairs, "every consecutive pair counted exactly once")
    // permille = floor(1000 n / rowTotal), recomputed per from-type
    rows.groupBy(_._1).foreach { case (ft, rs) =>
      val t = rs.map(_._3).sum
      rs.foreach { case (_, _, n, pm) => assert(pm === n * 1000 / t, s"$ft permille") }
    }
  }

  test("theil-sen slope replays the median-of-pairwise-slopes definition") {
    import spark.implicits._
    val daily = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day").cast("string"), col("n"))
      .as[(String, String, Long)].collect()
    val expect = daily.groupBy(_._1).map { case (et, rows) =>
      val byDay = rows.sortBy(_._2)
      val slopes = for {
        i <- byDay.indices; j <- (i + 1) until byDay.length
        dy = (byDay(j)._3 - byDay(i)._3).toDouble
        dx = (java.time.LocalDate.parse(byDay(j)._2).toEpochDay -
          java.time.LocalDate.parse(byDay(i)._2).toEpochDay).toDouble
      } yield (dy / dx, dy, dx)
      val sorted = slopes.sortBy(identity)
      val m = sorted.length
      et -> ((m.toLong, math.floor(sorted((m + 1) / 2 - 1)._1 * 10000 + 0.5) / 10000))
    }
    val got = q("window_theilsen").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expect)
  }

  test("router kappa replays Cohen's formula from the two routers' own outputs") {
    val nb = q("ext_nb_score").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap // doc -> pred_label
    val lid = q("ext_lang_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap // doc -> lang_guess
    assert(nb.keySet === lid.keySet)
    val pairs = nb.keys.toSeq.map(id => (nb(id), lid(id)))
    val n = pairs.length.toLong
    val agree = pairs.count { case (a, b) => a == b }.toLong
    val m1 = pairs.groupBy(_._1).view.mapValues(_.length.toLong)
    val m2 = pairs.groupBy(_._2).view.mapValues(_.length.toLong)
    val peNum = (m1.keySet ++ m2.keySet).toSeq
      .map(l => m1.getOrElse(l, 0L) * m2.getOrElse(l, 0L)).sum
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val row = q("ext_router_kappa").collect().head
    assert(row.getLong(0) === n && row.getLong(1) === agree)
    assert(row.getDouble(2) === r4(agree.toDouble / n))
    assert(row.getDouble(3) === r4(peNum.toDouble / (n * n)))
    assert(row.getDouble(4) === r4((n * agree - peNum).toDouble / (n * n - peNum)))
    assert(row.getDouble(4) > -1.0 && row.getDouble(4) < 1.0)
  }

  test("benford audit replays digit counts and chi-square terms; mass and domain conserved") {
    import spark.implicits._
    val cents = graft.Tables.events(spark, d)
      .select(round(col("value") * 100).cast("long").as("c"))
      .as[Long].collect()
    val got = q("agg_benford").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === (1L to 9L)) // full domain, ordered
    assert(got.map(_._2).sum === cents.length.toLong) // every event lands in a digit
    val n = cents.length.toDouble
    got.foreach { case (dg, obs, exp, chi) =>
      assert(obs === cents.count(_.toString.head.asDigit.toLong == dg).toLong, s"digit $dg count")
      val p = math.log10(1.0 + 1.0 / dg)
      assert(math.abs(exp - n * p) <= 1e-3, s"digit $dg expected")
      assert(math.abs(chi - (obs - n * p) * (obs - n * p) / (n * p)) <= 1e-2, s"digit $dg chi2")
    }
  }

  test("mann-kendall S, tie variance, and z replay the pairwise definition") {
    import spark.implicits._
    val daily = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day").cast("string"), col("n"))
      .as[(String, String, Long)].collect()
    val got = q("agg_mann_kendall").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    daily.groupBy(_._1).foreach { case (et, rows) =>
      val ns = rows.sortBy(_._2).map(_._3)
      val s = (for { i <- ns.indices; j <- (i + 1) until ns.length }
        yield java.lang.Long.signum(ns(j) - ns(i)).toLong).sum
      val dDays = ns.length.toLong
      val tie = ns.groupBy(identity).values.map(_.length.toLong)
        .map(t => t * (t - 1) * (2 * t + 5)).sum
      val var18 = dDays * (dDays - 1) * (2 * dDays + 5) - tie
      val z = if (var18 == 0) 0.0
        else (s - java.lang.Long.signum(s)) / math.sqrt(var18 / 18.0)
      val (gd, gs, gv, gz) = got(et)
      assert((gd, gs, gv) === ((dDays, s, var18)), s"$et integers")
      assert(math.abs(gz - z) <= 1e-4, s"$et z")
    }
  }

  test("split PSI replays the smoothed per-bin definition; contributions are non-negative") {
    val rows = graft.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the query's contract recomputed independently: the id-hash split,
    // width-10 token-count bins, Laplace-1/2-smoothed shares, micro-nat
    // log-ratio rounded on the bin frame
    val bins = rows.map { case (id, t) =>
      ((id * 2246822519L + 104729L) % 1000L >= 150L, t.split(" ", -1).length.toLong / 10L)
    }
    val b = bins.map(_._2).distinct.length.toLong
    val ta = bins.count(_._1).toLong
    val tb = bins.length - ta
    val got = q("ext_split_psi").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === bins.map(_._2).distinct.sorted.toSeq)
    got.foreach { case (bin, ca, cb, psi) =>
      assert(ca === bins.count(x => x._2 == bin && x._1).toLong, s"bin $bin train count")
      assert(cb === bins.count(x => x._2 == bin && !x._1).toLong, s"bin $bin heldout count")
      val pa = (2 * ca + 1).toDouble / (2 * ta + b)
      val pb = (2 * cb + 1).toDouble / (2 * tb + b)
      val lnr = math.round(math.log(
        ((2 * ca + 1) * (2 * tb + b)).toDouble / ((2 * cb + 1) * (2 * ta + b))) * 1e6)
      assert(psi === math.round((pa - pb) * lnr), s"bin $bin psi")
      // (p_a − p_b) and ln(p_a/p_b) always share a sign, so each bin's
      // PSI contribution is non-negative by construction
      assert(psi >= 0L, s"bin $bin negative psi")
    }
  }

  test("prefix template groups replay the 8-token prefix grouping; singletons never surface") {
    val rows = graft.Tables.documents(spark, d)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = rows
      .groupBy { case (_, t, _) => t.split(" ", -1).take(8).mkString(" ") }
      .filter(_._2.length >= 2)
      .map { case (p, g) =>
        (p, g.length.toLong, g.map(_._3).distinct.length.toLong, g.map(_._1).min)
      }.toSet
    val got = q("ext_prefix_dup").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expect)
    assert(got.forall(_._2 >= 2))
  }

  test("char entropy replays the sequential Shannon definition (oracle-blind-formula guard)") {
    val docs = graft.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = q("ext_text_entropy").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === docs.size)
    got.foreach { case (id, n, k, h) =>
      val counts = docs(id).groupBy(identity).view.mapValues(_.length.toLong).toMap
      assert(n === docs(id).length.toLong, s"doc $id char count")
      assert(k === counts.size.toLong, s"doc $id distinct chars")
      val exact = math.log(n.toDouble) -
        counts.values.map(c => c * math.log(c.toDouble)).sum / n
      // micro-nat rounding moves each log by ≤ 5e-7, the weighted average
      // by ≤ 1e-6; the output is 4-dp rounded on top
      assert(math.abs(h - exact) <= 2e-4, s"doc $id entropy $h vs $exact")
      assert(h >= 0.0 && h <= math.log(k.toDouble) + 2e-4, s"doc $id range")
    }
  }

  test("zipf slope matches a least-squares replay over the exact top-100 term counts") {
    val tf = graft.Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val top = tf.sortBy { case (t, f) => (-f, t) }.take(100)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (math.log((i + 1).toDouble), math.log(f.toDouble)) }
    val k = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    val r = q("ext_text_zipf").collect().head
    assert(r.getLong(0) === pts.length.toLong)
    assert(math.abs(r.getDouble(1) - slope) <= 1e-3, s"slope ${r.getDouble(1)} vs $slope")
    assert(r.getDouble(1) < 0.0, "natural text rank-frequency slope is negative")
  }

  test("burstiness replays the Fano definition over hand-built hourly counts (zero hours included)") {
    import spark.implicits._
    val ev = graft.Tables.events(spark, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .as[(String, java.sql.Timestamp)].collect()
    val hours = {
      val all = ev.map(_._2.getTime).distinct
      (all.min to all.max by 3600000L)
    }
    val got = q("agg_burstiness").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.map(_._1) === got.map(_._1).sorted)
    got.foreach { case (tpe, nh, ne, fano) =>
      assert(nh === hours.length.toLong, s"$tpe hour-domain size")
      val byHour = ev.filter(_._1 == tpe).groupBy(_._2.getTime)
        .view.mapValues(_.length.toLong).toMap
      val cs = hours.map(h => byHour.getOrElse(h, 0L))
      assert(ne === cs.sum, s"$tpe event count")
      val n = cs.length.toDouble
      val mean = cs.sum / n
      val varp = cs.map(c => (c - mean) * (c - mean)).sum / n
      assert(math.abs(fano - varp / mean) <= 1e-3, s"$tpe fano $fano vs ${varp / mean}")
    }
  }

  test("attribution: conversions conserve purchase count; a touchless purchase lands on 'none'") {
    import spark.implicits._
    val rows = q("agg_attribution").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val nPurch = graft.Tables.events(spark, d)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_._2).sum === nPurch, "every purchase attributed exactly once")
    assert(rows.forall(_._1 != "purchase"), "a purchase can never be its own touch")
    // planted micro-case: first event is a purchase → 'none'; later purchase
    // credits the latest prior non-purchase touch even across a purchase
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 7L, "purchase", 5.0),
      (2L, "2024-01-01 00:01:00", 7L, "view", 0.0),
      (3L, "2024-01-01 00:02:00", 7L, "purchase", 3.0),
      (4L, "2024-01-01 00:03:00", 7L, "purchase", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val got = ev.withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), coalesce(col("touch"), lit("none")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "none", 3L -> "view", 4L -> "view"))
  }

  test("changepoint: top-3 splits replay the exact rational gain ranking") {
    val daily = graft.Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    val dd = daily.length
    val s = daily.map(_._2).sum
    val pre = daily.map(_._2).scanLeft(0L)(_ + _).tail
    val cands = (1 until dd).map { t =>
      val st = pre(t - 1); val sr = s - st
      val gnum = BigInt(st) * st * (dd - t) * dd +
        BigInt(sr) * sr * t * dd - BigInt(s) * s * t * (dd - t)
      val gden = BigInt(t) * (dd - t) * dd
      (daily(t - 1)._1, t.toLong, gnum, gden)
    }
    val want = cands.sortWith { (a, b) =>
      val c = (a._3 * b._4).compare(b._3 * a._4)
      if (c != 0) c > 0 else a._1 < b._1
    }.take(3).map(c => (c._1, c._2, (BigInt(1000) * c._3 / c._4).toLong))
    val got = q("agg_changepoint").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(6))).toSeq
    assert(got === want)
    // split gains are SSE reductions — nonnegative by convexity
    got.foreach { case (_, _, gainMilli) => assert(gainMilli >= 0L) }
  }

  test("changepoint: the decimal(38,0) exactness bound fails LOUD in the overflow regime") {
    import spark.implicits._
    // D = 3 days of 10¹⁸ events: 3·S²·D⁵ = 3·(3e18)²·3⁵ ≈ 6.6e39 ≥ 1e38 —
    // the cross-multiplied compare would null out under Spark's non-ANSI
    // decimal multiply and mis-rank silently; the runtime guard must raise
    val daily = Seq(("2024-01-01", 1000000000000000000L),
        ("2024-01-02", 1000000000000000000L), ("2024-01-03", 1000000000000000000L))
      .toDF("day", "n").select(to_date(col("day")).as("day"), col("n"))
    val e = intercept[IllegalArgumentException] {
      graft.queries.CdcQueries.changepointReport(daily).collect()
    }
    assert(e.getMessage.contains("exactness bound"),
      s"must name the bound, got: ${e.getMessage}")
    // and just inside the bound the report still runs (same D, tiny S)
    val ok = Seq(("2024-01-01", 5L), ("2024-01-02", 50L), ("2024-01-03", 7L))
      .toDF("day", "n").select(to_date(col("day")).as("day"), col("n"))
    assert(graft.queries.CdcQueries.changepointReport(ok).collect().nonEmpty)
  }

  test("weekday-adjusted anomaly flags replay the per-DOW 2σ rule") {
    val daily = graft.Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0), r.getLong(1)))
    val byDow = daily.groupBy { case (day, _) =>
      ((day.toLocalDate.toEpochDay % 7) + 3 + 7) % 7
    }
    val want = daily.map { case (day, n) =>
      val dow = ((day.toLocalDate.toEpochDay % 7) + 3 + 7) % 7
      val g = byDow(dow).map(_._2)
      val (dd, s, ss) = (BigInt(g.length), BigInt(g.sum), g.map(x => BigInt(x) * x).sum)
      val dev = BigInt(n) * dd - s
      (day.toString, dow, n, dev * dev > 4 * (dd * ss - s * s))
    }.toSeq
    val got = q("agg_anomaly_dow").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got === want)
    // single-member DOW groups can never flag (zero variance, zero dev)
    want.filter { case (_, dow, _, _) => byDow(dow).length == 1 }
      .foreach { case (_, _, _, flag) => assert(!flag) }
  }

  test("changepoint tree: root and child picks replay the segment-local argmax") {
    val daily = graft.Tables.events(spark, d)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    val pre = daily.map(_._2).scanLeft(0L)(_ + _)
    def best(lo: Int, hi: Int): Option[(Int, BigInt, BigInt)] = {
      val dSeg = hi - lo
      if (dSeg < 2) None
      else {
        val sSeg = pre(hi) - pre(lo)
        var b: Option[(Int, BigInt, BigInt)] = None
        for (t <- lo + 1 until hi) {
          val (lt, rt) = (t - lo, hi - t)
          val sl = pre(t) - pre(lo); val sr = sSeg - sl
          val gn = BigInt(sl) * sl * rt * dSeg + BigInt(sr) * sr * lt * dSeg -
            BigInt(sSeg) * sSeg * lt * rt
          val gd = BigInt(lt) * rt * dSeg
          if (b.forall { case (_, bn, bd) => gn * bd > bn * gd }) b = Some((t, gn, gd))
        }
        b
      }
    }
    val n = daily.length
    val root = best(0, n).get
    val want = (Seq("root" -> (0, n, root)) ++
      best(0, root._1).map(p => "left" -> (0, root._1, p)) ++
      best(root._1, n).map(p => "right" -> (root._1, n, p)))
      .map { case (seg, (lo, hi, (t, gn, gd))) =>
        (seg, daily(t - 1)._1, (t - lo).toLong, (hi - t).toLong,
          (BigInt(1000) * gn / gd).toLong)
      }.sortBy(_._1)
    val got = q("agg_changepoint_tree").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(6))).toSeq
    assert(got === want)
    // every reported gain is a genuine SSE reduction
    got.foreach(r => assert(r._5 >= 0L))
  }

  test("k-anonymity: bands partition the class grid; k is the global min class size") {
    val classes = graft.Tables.events(spark, d)
      .groupBy(col("event_type"), to_date(col("ts")),
        floor(col("value") / 10.0).cast("long"))
      .count().collect().map(_.getLong(3))
    val got = q("agg_k_anonymity").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // every class and row is banded exactly once
    assert(got.map(_._2).sum === classes.length.toLong)
    assert(got.map(_._3).sum === classes.sum)
    // the k column is constant and equals the min class size
    assert(got.map(_._5).distinct.toSeq === Seq(classes.min))
    // band membership replays the case rule
    val wantBands = classes.groupBy(n =>
      if (n == 1) "1" else if (n <= 4) "2-4" else if (n <= 9) "5-9" else "10+")
    got.foreach { case (band, nc, nr, _, _) =>
      assert(nc === wantBands(band).length.toLong, s"band $band classes")
      assert(nr === wantBands(band).sum, s"band $band rows")
    }
  }
}
