package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints per-query wall seconds as JSON. Results go to the `noop`
  * sink — full materialization of every output column (a bare `count()`
  * would let the optimizer prune projected expressions and benchmark
  * nothing but the scan).
  *
  * An UNTIMED session warmup (one-row noop write per fixture table) runs
  * first and is reported as `warmup_sec` on the totals line: JVM/Spark
  * bring-up and first-footer reads no longer inflate the alphabetically
  * first query's cold time. Each query then runs THREE times: one COLD
  * pass (fresh caches — includes codegen compile, scan, persist fill) and
  * two WARM passes, of which the
  * MINIMUM is reported (operator persists still populated). Min-of-N warm
  * is the contention shield: a co-tenant burst inflates one pass, rarely
  * both, so the min tracks the plan's true cost. The 1-minute load average
  * is sampled before the run, after every query, and at the end; the
  * before/max/after bracket in the artifact shows whether the box was
  * quiet, so a noisy artifact is self-identifying. Between queries the
  * bench additionally COOLS DOWN (untimed, budgeted — see `measure`):
  * its own sustained bursts otherwise accumulate a loadavg plateau that
  * inflates later timings and reads as contamination. The same discipline
  * applies at the RUN START: a measurement pass refuses to begin (budgeted
  * wait, see `measure`) while the box still carries load above the
  * cooldown's release threshold — a dirty `load_before` baseline poisons
  * every later comparison even when the run itself is clean.
  *
  * Output protocol: the big per-query line prints FIRST, and a compact
  * totals line (`"metric":"total"`) prints LAST — tail-truncation of
  * the driver's capture can at worst lose per-query detail, never the
  * headline totals or the load bracket.
  *
  * Regression tracking: `bench_best_<sf>.json` (checked in, cwd-relative)
  * carries each query's best-known warm seconds. Minima fold in on EVERY
  * run, load notwithstanding: contention only inflates a measurement, so
  * a recorded minimum is always a genuinely achievable time (a load gate
  * here was tried and only ever SKIPPED updates — the bench's own 32
  * threads push the 1-min loadavg to ~5 on an otherwise idle 32-core
  * box). Every run emits `"queries_best"` on the detail line and a
  * `"regressed":[...]` list (warm > 2× best) on the totals line, so a
  * contaminated artifact self-identifies per query; read the regressed
  * list against the load bracket — under heavy load it may cry wolf,
  * never the reverse. `"load_comparable"` applies the bar in the artifact
  * itself: quiet at start (load_before < 5) AND mid-run excess over the
  * start inside the bench's own self-load envelope (load_max − load_before
  * < 7; an absolute bar misread self-load as contamination, and the
  * envelope grows with the query surface — calibration note at
  * `comparable`). A run outside the bar retries ONCE and, if still
  * contaminated, stamps `"status":"INVALID_LOAD"` (plus a loud stderr
  * line) so a noisy artifact can never silently become the round's
  * record.
  *
  * Failures: a query that throws in any of its runs has no time. It is
  * listed in `"failed":[...]` on the totals line, kept out of
  * `queries`/`queries_warm`, `value`/`total_warm` and the floor ledger
  * ([[foldFloors]]), and the run's status is `"FAILED"`.
  */
object Bench {
  /** Start-gate idle bar: the measurement pass refuses to sample its
    * `load_before` baseline until the 1-min loadavg is under this
    * ABSOLUTE level (budgeted — see the gate loop). Distinct by design
    * from the mid-run cooldown's release, which is excess OVER that
    * baseline: before the baseline exists there is nothing to take an
    * excess against. */
  val StartGateIdleLoad = 1.5

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def loadAvg(): Double =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      catch { case _: Throwable => -1.0 }

    // a query that throws has no time: None, never its elapsed seconds
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); None }
    }

    // One untimed session warmup — JVM/Spark bring-up, noop-sink class load,
    // first-parquet-footer reads. Without it the alphabetically-first query
    // absorbs ~5 s of one-time cost into its cold number (misread as that
    // query's plan cost in rounds 2–6). Reported as warmup_sec, not hidden.
    val tWarm0 = System.nanoTime()
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, sfDir) // nanos flag
               else Tables.table(spark, sfDir, t)
      df.limit(1).write.format("noop").mode("overwrite").save()
    }
    val warmupSec = (System.nanoTime() - tWarm0) / 1e9

    // One full measurement pass with its own load bracket. If the bracket
    // exceeds the comparability bar (load_max ≥ 5: co-tenant drag), retry
    // ONCE — round 9's official artifact was load-contaminated noise, and
    // a second attempt minutes later is usually past the burst. The
    // final artifact carries the cleaner attempt and says loudly when
    // even that one is contaminated (`"status":"INVALID_LOAD"`) so a
    // noisy run can never silently become the round's record.
    // runs: per query, Some((cold, warm)) or None when any of its runs threw
    final case class Pass(runs: Seq[(String, Option[(Double, Double)])],
                          loadBefore: Double, loadMax: Double, loadAfter: Double)
    def measure(): Pass = {
      // START GATE: don't begin a measurement pass on a box still draining
      // earlier load (e.g. a test suite that finished seconds ago).
      // loadBefore anchors BOTH the mid-run hysteresis cooldown and the
      // comparability bar, so a dirty start poisons the whole pass even
      // when the run itself is clean — the r14/r15 driver artifacts both
      // started at load ~3.7–6 and certified over the gate while from-idle
      // runs of the same code sat well under it. Wait (budgeted) for the
      // 1-min loadavg to decay under StartGateIdleLoad — an ABSOLUTE idle
      // bar, deliberately a different quantity from the mid-run cooldown's
      // release (which is EXCESS over this pass's own baseline): the gate
      // exists to make loadBefore a true idle baseline, and an excess
      // measure can't bootstrap itself before that baseline exists. On a
      // box with legitimate steady background load ≥ the bar the budget
      // runs out and the pass proceeds; τ = 60 s ⇒ ~1–2 min from a typical
      // post-suite plateau. Past the budget the comparability bar /
      // INVALID_LOAD path judges the run as before — a genuinely-busy
      // co-tenant box can't stall the bench forever.
      var gateBudget = 900.0
      var l0 = loadAvg()
      while (gateBudget > 0 && l0 >= 0 && l0 > StartGateIdleLoad) {
        System.err.println(
          f"[bench] start gate: load $l0%.2f > $StartGateIdleLoad%.1f — waiting for idle box")
        val s = math.min(15.0, gateBudget)
        Thread.sleep((s * 1000).toLong)
        gateBudget -= s
        l0 = loadAvg()
      }
      val loadBefore = loadAvg()
      var loadMax = loadBefore
      // Cooldown: the bench's own back-to-back 32-thread bursts accumulate
      // a 1-min loadavg plateau (observed 2–10 across rounds) that both
      // inflates later timings and trips the comparability bar. Rather
      // than measure through our own wake, PAUSE (untimed — between
      // queries, never inside one) with HYSTERESIS: once the running
      // excess over the pre-run baseline tops 2.5, sleep until it decays
      // under 1.2 (τ = 60 s ⇒ ~45 s per pause). The deep release is what
      // spreads the idle time across the whole run — a shallow release
      // (first cut: trigger 3.0, release 3.0, 900 s budget) drained the
      // budget in the first half and let the tail plateau climb to
      // excess ~7. Budgeted so a genuinely-busy box can't stall the run:
      // past the budget the bench measures on and the bracket says so.
      var pauseBudget = 1800.0
      def cooldown(): Unit = {
        var l = loadAvg()
        if (l < 0 || l - loadBefore <= 2.5) return
        while (pauseBudget > 0 && l >= 0 && l - loadBefore > 1.2) {
          val s = math.min(10.0, pauseBudget)
          Thread.sleep((s * 1000).toLong)
          pauseBudget -= s
          l = loadAvg()
        }
      }
      val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        cooldown()
        val times = for {
          cold <- runOnce(name, fn)                    // caches empty: fills persists
          w1 <- runOnce(name, fn)
          w2 <- runOnce(name, fn)
        } yield (cold, math.min(w1, w2))
        // drop the query's operator persists so the next cold pass isn't
        // timed under cache/GC pressure (session-shared frames stay)
        SessionFrames.release(spark)
        loadMax = math.max(loadMax, loadAvg())
        name -> times
      }
      val loadAfter = loadAvg()
      Pass(runs, loadBefore, math.max(loadMax, loadAfter), loadAfter)
    }
    // Comparability: the bench's own 32 worker threads legitimately push
    // the 1-min loadavg over the pre-run baseline mid-run, so an absolute
    // bar misreads self-load as contamination; co-tenant drag shows as
    // EXCESS beyond the self-load envelope. The envelope GROWS with the
    // query surface (longer sustained activity → higher 1-min loadavg
    // plateau): observed 2.8–4.6 excess at the ~127-query surface, and
    // 5.18 over a 0.69 baseline at the 142-query surface on a DIRECTLY
    // VERIFIED idle box (nothing else running, quiet before and after) —
    // while the round-9 contaminated artifact ran excess 9.7 with a
    // mid-run burst. Bar at 7: above every observed clean plateau, well
    // below the contamination signature. Comparable ⇔ quiet at start AND
    // mid-run excess inside that envelope.
    def comparable(p: Pass): Boolean =
      p.loadBefore < 5.0 && (p.loadMax - p.loadBefore) < 7.0
    val first = measure()
    val pass =
      if (comparable(first)) first
      else {
        System.err.println(
          f"[bench] load bracket ${first.loadBefore}%.1f→${first.loadMax}%.1f exceeds the " +
            "self-load envelope — artifact would be non-comparable; retrying once")
        val second = measure()
        if (comparable(second) || second.loadMax < first.loadMax) second else first
      }
    val results = pass.runs.collect { case (name, Some((cold, warm))) => (name, cold, warm) }
    val failed = pass.runs.collect { case (name, None) => name }
    val (loadBefore, loadMax, loadAfter) = (pass.loadBefore, pass.loadMax, pass.loadAfter)
    val loadComparable = comparable(pass)
    if (!loadComparable)
      System.err.println(f"[bench] INVALID: best attempt still at load " +
        f"$loadBefore%.1f→$loadMax%.1f — numbers are co-tenant-contaminated; " +
        "do not read as a regression signal")

    // Best-known warm times for this SF (flat {"query":sec} file we write
    // ourselves, so a regex scan is a full parser for it). Minima are only
    // comparable WITHIN one fixture generation: the driver regenerates the
    // testdata every round (new seed → different text/near-dup density), so
    // the file carries a fixture fingerprint — per-table parquet byte sizes
    // hashed together — and recorded minima are dropped when it changes
    // (stale cross-fixture bests made ngram-family queries cry "regressed"
    // every round otherwise).
    val fixtureId: String = {
      val sig = Tables.all.sorted
        .map(t => s"$t:${new java.io.File(sfDir, s"$t.parquet").length}")
        .mkString(",")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(sig.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    }
    val bestPath = java.nio.file.Paths.get(
      s"bench_best_${new java.io.File(sfDir).getName}.json")
    val best: Map[String, Double] =
      if (java.nio.file.Files.exists(bestPath)) {
        val raw = new String(java.nio.file.Files.readAllBytes(bestPath), "UTF-8")
        val recordedFixture = """"__fixture":"([0-9a-f]+)"""".r
          .findFirstMatchIn(raw).map(_.group(1))
        if (recordedFixture.contains(fixtureId))
          """"([A-Za-z0-9_]+)":([0-9][0-9.eE+-]*)""".r
            .findAllMatchIn(raw)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        else Map.empty // new fixture generation: rebase minima
      } else Map.empty
    // A regression is MULTIPLICATIVE (a plan got worse); per-run jitter is
    // ADDITIVE (~0.3–0.7 s random spikes under self-load, hitting a
    // different handful of queries each run — observed across the round-10
    // record runs). 2× a one-off sub-second floor is inside the additive
    // band, so the flag requires both signatures: >2× the best AND >0.5 s
    // over it. A real regression on anything expensive clears both bars.
    val regressed = results.collect {
      case (name, _, warm) if best.get(name).exists(b => warm > 2 * b && warm > b + 0.5) => name
    }.sorted
    val kept = foldFloors(best, pass.runs.map { case (name, t) => name -> t.map(_._2) })
      .toSeq.sortBy(_._1)
    java.nio.file.Files.write(bestPath,
      (s""""__fixture":"$fixtureId"""" +: kept.map { case (k, v) => "\"" + k + "\":" + v })
        .mkString("{", ",", "}").getBytes("UTF-8"))

    def obj(f: ((String, Double, Double)) => (String, Double)): String =
      results.map { r => val (k, v) = f(r); "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val cold = obj { case (k, c, _) => (k, c) }
    val warm = obj { case (k, _, w) => (k, w) }
    val bestJson = best.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def strList(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val totalWarm = results.map(_._3).sum
    // Detail line first (large; tail-truncatable), compact totals line LAST.
    println(s"""{"metric":"bench_detail","queries":$cold,"queries_warm":$warm,""" +
      s""""queries_best":$bestJson,"sf":"$sfDir"}""")
    // load_comparable applies the repo's own comparability bar (quiet
    // start + excess-over-start envelope, see `comparable`): a regressed
    // list produced under co-tenant drag is flagged instead of adjudicated
    // by hand
    // a failed query is out of every time and floor; the status says so
    val status =
      if (failed.nonEmpty) "FAILED" else if (loadComparable) "OK" else "INVALID_LOAD"
    if (failed.nonEmpty)
      System.err.println(s"[bench] FAILED: ${failed.mkString(", ")} threw (no times recorded)")
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_warm":$totalWarm,""" +
      s""""warmup_sec":$warmupSec,"regressed":${strList(regressed)},""" +
      s""""failed":${strList(failed)},""" +
      s""""status":"$status","load_comparable":$loadComparable,""" +
      s""""load_excess":${loadMax - loadBefore},""" +
      s""""load_before":$loadBefore,"load_max":$loadMax,"load_after":$loadAfter,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The floor-ledger fold: each query's recorded floor becomes the minimum
    * of itself and this run's warm time. A query that failed (`None`) has no
    * time, so its recorded floor stays as it was; queries dropped from the
    * suite keep their record. */
  def foldFloors(best: Map[String, Double],
                 warm: Seq[(String, Option[Double])]): Map[String, Double] =
    best ++ warm.collect { case (name, Some(w)) => name -> math.min(w, best.getOrElse(name, w)) }
}
