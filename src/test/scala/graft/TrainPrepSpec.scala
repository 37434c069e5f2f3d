package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TrainPrep

/** Training-data preparation operators: deterministic sampling, window
  * packing, salient-term extraction. */
class TrainPrepSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "lang", "text")

  test("stratifiedSample keeps exactly the rows whose hash bucket clears the stratum rate") {
    val d = docs((0L until 200L).map(i =>
      (i, if (i % 3 == 0) "en" else "de", s"text $i")): _*)
    val kept = TrainPrep.stratifiedSample(d, "doc_id", "lang",
      permille = Map("en" -> 250), defaultPermille = 800)
      .select("doc_id").as[Long].collect().toSet
    // the operator's contract recomputed independently per row
    def bucket(id: Long): Long = {
      val h = (id * 2654435761L + 40503L) % 1000L
      if (h < 0) h + 1000L else h
    }
    val expect = (0L until 200L).filter { i =>
      bucket(i) < (if (i % 3 == 0) 250 else 800)
    }.toSet
    assert(kept === expect)
    assert(kept.nonEmpty && kept.size < 200) // actually sampled something out
    // rerun is byte-stable (no rand() anywhere)
    val again = TrainPrep.stratifiedSample(d, "doc_id", "lang",
      permille = Map("en" -> 250), defaultPermille = 800)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept)
  }

  test("textrank ranks replay the integer damped PageRank recurrence (sequential definition)") {
    val texts = Seq("a b c a b", "b c d b c", "x y x y", "a b c d", "c d c d")
    val frame = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, "en", t) }: _*)
    val got = TrainPrep.textrankKeywords(frame, "text",
      window = 3, minCount = 1, iters = 3, topK = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the recurrence replayed sequentially (oracle-blind-formula guard):
    // window-3 undirected co-occurrence edges, then
    // r' = 150000 + 850000 * sum(r(j)*w(j,i) / W(j)) / 1e6, all integer div
    val pairs = for {
      t <- texts; toks = t.split(" ", -1)
      o <- 1 to 2; i <- 0 until toks.length - o
      if toks(i) != toks(i + o)
    } yield if (toks(i) <= toks(i + o)) (toks(i), toks(i + o)) else (toks(i + o), toks(i))
    val ew = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val adj = ew.toSeq.flatMap { case ((a, b), w) => Seq((a, b, w), (b, a, w)) }
    val wtot = adj.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = wtot.keys.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      r = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> (150000L + 850000L * es.map { case (src, _, w) =>
          r(src) * w / wtot(src) }.sum / 1000000L)
      }
    }
    assert(got === r)
    // hub check: 'c' touches a, b, d across three docs — it must outrank
    // the isolated x/y pair, whose ranks the damping pins near the floor
    assert(got("c") > got("x") && got("c") > got("y"))
  }

  test("dsirWeights scores target-looking docs positive, off-target negative") {
    // target slice speaks 'q'; the raw corpus adds 'z'-heavy noise docs
    val d = docs(
      (1, "en", "q q q"), (2, "en", "q q z"),
      (3, "de", "z z z"), (4, "de", "q z z"))
    val r = TrainPrep.dsirWeights(d, "text", "doc_id", col("lang") === "en")
      .select("doc_id", "n_tokens", "logratio_micro", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    SessionFrames.release(spark)
    // closed form: V=2; tgt: q=5,z=1,T=6; raw: q=6,z=6,T=12 (×1e6 — the
    // repo-wide lnMicro unit)
    def micro(c: Long, t: Long) = math.round(math.log((c + 0.5) / (t + 0.5 * 2)) * 1e6)
    val dq = micro(5, 6) - micro(6, 12)
    val dz = micro(1, 6) - micro(6, 12)
    assert(r(1L) === ((1L, 3L, 3 * dq, 3 * dq > 0)))
    assert(r(4L) === ((4L, 3L, dq + 2 * dz, dq + 2 * dz > 0)))
    assert(r(1L)._3 > 0 && r(3L)._3 < 0, "separable docs must separate")
  }

  test("spanCorruptionPlan: block-local spans are in-bounds, non-overlapping, deterministic") {
    val d = docs(
      (7L, "en", ("w " * 20).trim),  // 20 tokens -> blocks of 8,8,4
      (8L, "en", "a"),               // 1 token   -> one length-1 span
      (9L, "en", ("x " * 8).trim))   // exactly one full block
    val plan = TrainPrep.spanCorruptionPlan(d, "doc_id", "text")
      .select("doc_id", "n_tokens", "sentinel_id", "span_start", "span_len")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))

    // every span sits inside its own block (non-overlap by construction)
    plan.foreach { case (_, n, b, start, len) =>
      assert(len >= 1 && len <= 3)
      assert(start >= b * 8 && start + len <= math.min((b + 1) * 8, n))
    }
    // block structure: ceil(n/8) sentinels, numbered 0..
    assert(plan.filter(_._1 == 7L).map(_._3).toSeq === Seq(0L, 1L, 2L))
    assert(plan.filter(_._1 == 8L).map(r => (r._3, r._5)).toSeq === Seq((0L, 1L)))
    // pure function of (doc, block): a rerun is byte-identical
    val again = TrainPrep.spanCorruptionPlan(d, "doc_id", "text")
      .select("doc_id", "n_tokens", "sentinel_id", "span_start", "span_len")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    assert(again === plan)
  }

  test("groupCap equals the unsalted per-group top-k, ranks total and contiguous") {
    // uneven groups (sizes 30/7/1) with ids interleaved across salts
    val rows = (0L until 38L).map { i =>
      (i, if (i < 30) "big" else if (i < 37) "mid" else "one")
    }
    val d = rows.toDF("doc_id", "source")
    val got = TrainPrep.groupCap(d, "source", "doc_id", k = 5)
      .select("doc_id", "source", "rk").as[(Long, String, Long)].collect().toSet
    // reference: plain per-group sort, first 5
    val expect = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map(_._1).sorted.take(5).zipWithIndex.map { case (id, i) => (id, g, i + 1L) }
    }.toSet
    assert(got === expect)
    // a group smaller than k keeps everything
    assert(got.count(_._2 == "one") === 1)
  }

  test("packWindows reproduces the sequential concat-and-chunk plan per shard") {
    // texts of known bpe-estimate sizes: a token of length 4k estimates k
    val d = docs((0L until 40L).map { i =>
      val nTok = 1 + (i % 7) // 1..7 tokens of 8 chars → 2 bpe-pieces each
      (i, "xx", Seq.fill(nTok.toInt)("abcdefgh").mkString(" "))
    }: _*)
    val got = TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = 10L, nShards = 4)
      .select("doc_id", "shard", "n_tokens", "window_id", "window_offset", "n_windows")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // sequential reference: per shard in id order, running token count
    val cum = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    got.foreach { case (id, shard, n, window, offset, span) =>
      assert(shard === id % 4)
      assert(n === (1 + (id % 7)) * 2)
      val before = cum(shard)
      assert(window === before / 10L, s"doc $id window")
      assert(offset === before % 10L, s"doc $id offset")
      // the doc's last token lands in window (before + n - 1) / budget
      assert(span === (before + n - 1) / 10L - before / 10L + 1L, s"doc $id span")
      cum(shard) = before + n
    }
    // every doc of every shard is assigned, windows start at 0
    assert(got.map(_._1).toSeq === (0L until 40L))
    assert(got.filter(_._2 == 0L).map(_._4).min === 0L)
    // docs genuinely straddle: some span > 1 window (budget 10, docs up to 14)
    assert(got.exists(_._6 > 1L))
  }

  test("tokenQuantiles picks the exact rank-⌈p·n⌉ value per stratum") {
    // strata of different sizes with known token counts (8-char tokens → 2
    // bpe-pieces each): 'a' has counts 2,4,...,2k — quantiles land exactly
    val d = docs((0L until 30L).map { i =>
      val stratum = if (i < 20) "a" else "b"
      val nTok = (i % 10) + 1 // within-stratum counts repeat; multiset known
      (i, stratum, Seq.fill(nTok.toInt)("abcdefgh").mkString(" "))
    }: _*)
    val got = TrainPrep.tokenQuantiles(d, "lang", "text", permille = Seq(500, 900, 990))
      .select("stratum", "p", "n_docs", "q_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    // independent sequential reference: sort counts, pick 1-indexed ⌈p·n⌉
    val counts = (0L until 30L).groupBy(i => if (i < 20) "a" else "b")
      .view.mapValues(_.map(i => ((i % 10) + 1) * 2).sorted).toMap
    val expect = (for {
      (s, cs) <- counts
      p <- Seq(500L, 900L, 990L)
    } yield {
      val rank = (p * cs.size + 999) / 1000
      (s, p, cs.size.toLong, cs(rank.toInt - 1))
    }).toSet
    assert(got === expect)
  }

  test("sketch quantiles honor the rank-tolerance contract against the exact form") {
    val d = docs((0L until 120L).map { i =>
      val stratum = if (i % 2 == 0) "a" else "b"
      (i, stratum, Seq.fill(((i * 7) % 23 + 1).toInt)("abcdefgh").mkString(" "))
    }: _*)
    val perm = Seq(500, 900, 990)
    val approx = TrainPrep.tokenQuantilesSketch(d, "lang", "text", perm)
      .select("stratum", "p", "q_tokens").as[(String, Long, Long)].collect()
    // per-stratum sorted counts, independently derived
    val counts = (0L until 120L).groupBy(i => if (i % 2 == 0) "a" else "b")
      .view.mapValues(_.map(i => ((i * 7) % 23 + 1) * 2).sorted).toMap
    assert(approx.length === 2 * perm.size)
    approx.foreach { case (s, p, q) =>
      val cs = counts(s)
      // the sketch's answer must be an actual element with rank within 2%
      // of the target (default accuracy 1e4 ⇒ far tighter; 2% is the
      // contract this query's doc promises)
      assert(cs.contains(q), s"($s, $p): $q not in the stratum")
      val le = cs.count(_ <= q).toDouble / cs.size
      val lt = cs.count(_ < q).toDouble / cs.size
      val target = p / 1000.0
      assert(lt - 0.02 <= target && target <= le + 0.02,
        s"($s, $p): rank window [$lt, $le] misses ${target}")
    }
  }

  test("packWindows rejects carry names that collide with its generated columns") {
    val d = docs((1L, "en", "a"))
    val e = intercept[IllegalArgumentException] {
      TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = 10L, nShards = 2,
        carry = Seq("window_id"))
    }
    assert(e.getMessage.contains("window_id"))
  }

  test("packManifest exactly tiles the packing plan") {
    val budget = 512L
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val packed = TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = budget, nShards = 4)
    val man = TrainPrep.packManifest(packed, "doc_id", budget)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    val rows = packed.select("doc_id", "n_tokens").as[(Long, Long)].collect()
    assert(man.length > 4, "budget should split each shard into several windows")
    // every doc is counted in exactly one window; token mass is preserved
    assert(man.map(_._3).sum === rows.length.toLong)
    assert(man.map(_._6).sum === rows.map(_._2).sum)
    man.groupBy(_._1).foreach { case (shard, ws) =>
      val sorted = ws.sortBy(_._2)
      // a shard's first window starts clean
      assert(sorted.head._7 === 0L, s"shard $shard: first window has spill_in")
      sorted.foreach { w =>
        assert(w._7 >= 0L && w._7 < budget, s"shard $shard: spill_in out of range ($w)")
        assert(w._8 >= 0L, s"shard $shard: negative spill_out ($w)")
      }
      sorted.sliding(2).foreach {
        // windows cover disjoint ascending id spans
        case Array(a, b) =>
          assert(a._5 < b._4, s"shard $shard: window spans overlap ($a then $b)")
          // the spill chain is gapless: what window a pushes out covers the
          // row-less windows in between plus window b's leading spill_in
          assert(a._8 === (b._2 - a._2 - 1L) * budget + b._7,
            s"shard $shard: spill chain broken between $a and $b")
        case _ =>
      }
    }
  }

  test("exactSurvivors keeps each duplicate group's min-id row with all columns") {
    import graft.operators.Dedup
    val d = docs(
      (1L, "en", "same text"), (5L, "de", "same text"), (3L, "en", "Same Text  "),
      (2L, "en", "unique a"), (4L, "fr", "unique b"),
      (6L, "en", "same  text")) // inner double space — a DIFFERENT text
    val got = Dedup.exactSurvivors(d, "text", "doc_id")
      .as[(Long, String, String)].collect().sortBy(_._1)
    // normalization is lower(trim): ids 1, 3, 5 collapse (case + trailing
    // spaces fold); inner whitespace does not, so 6 survives
    assert(got === Array(
      (1L, "en", "same text"), (2L, "en", "unique a"),
      (4L, "fr", "unique b"), (6L, "en", "same  text")))
  }

  test("corpusPrep output equals the stage-by-stage composition") {
    import graft.operators.Dedup
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = TrainPrep.corpusPrep(d, "doc_id", "text", "lang",
      minQuality = 0.3, permille = Map("en" -> 250), defaultPermille = 800,
      budgetTokens = 2048L, nShards = 8)
      .select("doc_id", "lang", "quality", "n_tokens", "window_id", "window_offset")
      .as[(Long, String, Double, Long, Long, Long)].collect().sortBy(_._1)
    // independent composition from the already-tested pieces
    val kept = TrainPrep.stratifiedSample(
      Dedup.exactSurvivors(d, "text", "doc_id")
        .withColumn("quality", Tables.rnd4(graft.functions.TextFns.qualityScore(col("text"))))
        .filter(col("quality") >= 0.3),
      "doc_id", "lang", Map("en" -> 250), 800)
    val expect = TrainPrep.packWindows(kept, "doc_id", "text", 2048L, 8,
      carry = Seq("lang", "quality"))
      .select("doc_id", "lang", "quality", "n_tokens", "window_id", "window_offset")
      .as[(Long, String, Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty && got === expect)
    // the pipeline actually filtered something at each conceptual stage
    assert(got.length < d.count())
  }

  test("codegen'd BpeCount matches the higher-order reference form") {
    import graft.functions.TextFns
    import org.apache.spark.sql.functions.col
    // fixture-wide parity at sf0.001
    val fx = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(TextFns.bpeEstimate(col("text")).as("a"),
        TextFns.bpeEstimateRef(col("text")).as("b"))
      .as[(Long, Long)].collect()
    assert(fx.nonEmpty && fx.forall { case (a, b) => a == b })
    // edge strings: empty, multi-space (empty tokens), trailing space,
    // multibyte code points, supplementary (emoji counts as ONE char)
    val edges = Seq("", "  ", "abcd efghi", "tail ", "的是了在和", "a😀b 的的的的的")
      .toDF("text")
      .select(TextFns.bpeEstimate(col("text")).as("a"),
        TextFns.bpeEstimateRef(col("text")).as("b"))
      .as[(Long, Long)].collect()
    assert(edges.forall { case (a, b) => a == b },
      s"edge parity: ${edges.mkString(",")}")
  }

  test("topTerms ranks by tf·idf with rare terms beating common ones") {
    // 'rare' appears in 1 doc, 'mid' in 2, 'common' in all 4; doc 0 repeats
    // 'mid' twice so tf can beat a lower df at equal weight
    val d = docs(
      (0L, "en", "common rare mid mid alpha"),
      (1L, "en", "common mid beta beta beta"),
      (2L, "en", "common gamma gamma gamma gamma"),
      (3L, "en", "common delta"))
    val got = TrainPrep.topTerms(d, "doc_id", "text", k = 2)
      .select("doc_id", "rank", "term").as[(Long, Long, String)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(_._3).toSeq }
    // doc 0: rare (tf 1, df 1 → 3.5/1.5 ≈ 2.33) vs mid (tf 2, df 2 →
    //        2·2.5/2.5 = 2.0) vs alpha (≈ 2.33): 'alpha' < 'rare' on the tie
    assert(got(0L) === Seq("alpha", "rare"))
    // doc 2: gamma tf 4 df 1 → 4·3.5/1.5 ≈ 9.33 beats common (df 4 → 0.11)
    assert(got(2L) === Seq("gamma", "common"))
    // 'common' (df = all docs) never outranks a distinctive term
    assert(got(1L) === Seq("beta", "mid"))
    assert(got(3L) === Seq("delta", "common"))
  }

  test("topTerms is scored identically to an independent per-doc computation") {
    val d = docs(
      (0L, "en", "a b c a"),
      (1L, "en", "b c d"),
      (2L, "en", "c d e e"))
    val got = TrainPrep.topTerms(d, "doc_id", "text", k = 5)
      .select("doc_id", "term", "tf", "score")
      .as[(Long, String, Long, Double)].collect().toSet
    val texts = Map(0L -> "a b c a", 1L -> "b c d", 2L -> "c d e e")
    val dfMap = texts.values.flatMap(_.split(" ").distinct).groupBy(identity).map { case (t, o) => t -> o.size }
    val expect = texts.flatMap { case (id, t) =>
      t.split(" ").groupBy(identity).map { case (term, occ) =>
        val tf = occ.length.toLong
        val df = dfMap(term).toLong
        val score = tf.toDouble * ((3L - df + 0.5) / (df + 0.5))
        (id, term, tf, math.floor(score * 10000 + 0.5) / 10000)
      }
    }.toSet
    assert(got === expect)
  }

  test("weightedSample keeps exactly the rows whose bucket clears weight*1000") {
    // weight = (doc_id % 5) / 4.0 → 0, .25, .5, .75, 1.0 — spans the clamp ends
    val d = docs((0L until 200L).map(i => (i, "en", s"text $i")): _*)
    val w = (col("doc_id") % 5).cast("double") / 4.0
    val kept = TrainPrep.weightedSample(d, "doc_id", w)
      .select("doc_id").as[Long].collect().toSet
    def bucket(id: Long): Long = {
      val h = (id * 2654435761L + 40503L) % 1000L
      if (h < 0) h + 1000L else h
    }
    val expect = (0L until 200L).filter(i => bucket(i) < (i % 5) / 4.0 * 1000.0).toSet
    assert(kept === expect)
    // the clamp ends: weight 0 keeps nothing, weight 1 keeps everything
    assert((0L until 200L).filter(_ % 5 == 0).forall(!kept.contains(_)))
    assert((0L until 200L).filter(_ % 5 == 4).forall(kept.contains))
    // rerun is byte-stable
    val again = TrainPrep.weightedSample(d, "doc_id", w)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept)
  }

  test("weightedSample rejects an input that already carries a bucket column") {
    val d = docs((0L, "en", "t")).withColumn("bucket", lit(7L))
    val e = intercept[IllegalArgumentException] {
      TrainPrep.weightedSample(d, "doc_id", lit(0.5))
    }
    assert(e.getMessage.contains("bucket"))
  }

  test("stratifiedSample rejects an input that already carries a bucket column") {
    val d = docs((0L, "en", "t")).withColumn("bucket", lit(7L))
    val e = intercept[IllegalArgumentException] {
      TrainPrep.stratifiedSample(d, "doc_id", "lang", Map.empty, 500)
    }
    assert(e.getMessage.contains("bucket"))
  }

  test("sampleBucket faults on ids outside the overflow-safe domain instead of wrapping") {
    def run(id: Long): Long =
      Seq(id).toDF("id").select(TrainPrep.sampleBucket(col("id"))).as[Long].collect().head
    // in-domain boundary values still compute
    assert(run(TrainPrep.MaxSafeSampleId) ===
      (TrainPrep.MaxSafeSampleId * 2654435761L + 40503L) % 1000L)
    assert(run(0L) === 503L) // 40503 % 1000
    // one past the boundary (product would wrap) and a negative id both raise
    for (bad <- Seq(TrainPrep.MaxSafeSampleId + 1L, -1L)) {
      val e = intercept[Exception] { run(bad) }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString("; ")
      assert(msgs.contains("overflows the 64-bit product"), msgs)
    }
  }

  test("packWindows repacks on a caller-supplied token-count column") {
    val d = docs((0L until 12L).map(i => (i, "en", "abcdefgh " * 3)): _*)
    // whitespace token count (3 per doc) instead of the BPE proxy (6 per doc)
    val got = TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = 5L, nShards = 1,
      tokenCount = c => size(split(trim(c), " +")).cast("long"))
      .select("doc_id", "n_tokens", "window_id", "window_offset")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    got.zipWithIndex.foreach { case ((id, n, window, offset), i) =>
      assert(n === 3L, s"doc $id tokens")
      assert(window === (3L * i) / 5L && offset === (3L * i) % 5L, s"doc $id placement")
    }
    // default argument stays the BPE proxy: byte-identical to the explicit form
    val defRows = TrainPrep.packWindows(d, "doc_id", "text", 5L, 1).collect()
    val bpeRows = TrainPrep.packWindows(d, "doc_id", "text", 5L, 1,
      tokenCount = graft.functions.TextFns.bpeEstimate).collect()
    assert(defRows === bpeRows)
  }

  test("packGreedy never splits docs, rolls on overflow, isolates oversize docs") {
    // one shard; token counts ride a caller column: 4,4,4,12,3 at budget 10
    val d = Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 12L), (4L, 3L))
      .toDF("doc_id", "n_toks").withColumn("text", lit("ignored"))
    val got = TrainPrep.packGreedy(d, "doc_id", "text", budgetTokens = 10L, nShards = 1,
      tokenCount = _ => col("n_toks"))
      .select("doc_id", "window_id", "window_pos", "oversize")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    // d0 fills 0..4, d1 fits at 4, d2 overflows → w1, d3 (oversize) → w2
    // alone, d4 → w3
    assert(got.toSeq === Seq(
      (0L, 0L, 0L, false), (1L, 0L, 4L, false), (2L, 1L, 0L, false),
      (3L, 2L, 0L, true), (4L, 3L, 0L, false)))
  }

  test("packGreedy windows respect the budget per (shard, window) on the fixture") {
    val packed = TrainPrep.packGreedy(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text",
      budgetTokens = 2048L, nShards = 8)
    val bad = packed.groupBy("shard", "window_id")
      .agg(sum("n_tokens").as("w_tokens"), count(lit(1)).as("n_docs"),
        max(col("oversize").cast("int")).as("has_over"))
      .filter(col("w_tokens") > 2048L && !(col("n_docs") === 1 && col("has_over") === 1))
      .count()
    assert(bad === 0L, "a multi-doc window exceeded the budget")
    // windows are contiguous from 0 within every shard
    val gaps = packed.groupBy("shard")
      .agg(min("window_id").as("lo"), max("window_id").as("hi"),
        countDistinct("window_id").as("n"))
      .filter(col("lo") =!= 0L || col("n") =!= col("hi") + 1).count()
    assert(gaps === 0L, "window ids must be gapless per shard")
  }

  test("prepAudit's kept set is exactly corpusPrep's output, one verdict per input doc") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val audit = TrainPrep.prepAudit(docs, "doc_id", "text", "lang",
      minQuality = 0.3, permille = Map("en" -> 250), defaultPermille = 800)
    assert(audit.count() === docs.count()) // accounting covers every doc
    val kept = audit.filter(col("kept")).select("doc_id").as[Long].collect().sorted
    val prep = TrainPrep.corpusPrep(docs, "doc_id", "text", "lang",
      minQuality = 0.3, permille = Map("en" -> 250), defaultPermille = 800,
      budgetTokens = 2048L, nShards = 8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === prep)
    // a duplicate names the doc it lost to, and that survivor is kept or
    // dropped for its OWN later-stage reasons, never as a duplicate
    val dupSurvivors = audit.filter(col("verdict") === "duplicate")
      .select("survivor_id").distinct().as[Long].collect().toSet
    val survivorVerdicts = audit.filter(col("doc_id").isin(dupSurvivors.toSeq: _*))
      .select("verdict").as[String].collect().toSet
    assert(!survivorVerdicts.contains("duplicate"))
  }

  test("textNovelty counts exactly the shingles no other doc has") {
    val d = docs(
      (0L, "en", "a b c d e f g h i"), // shares [a..h] with doc 1
      (1L, "en", "a b c d e f g h j"),
      (2L, "en", "z y x w v u t s r"), // fully novel
      (3L, "en", "too short"))         // no 8-gram → vacuously novel
    val got = TrainPrep.textNovelty(d, "doc_id", "text", n = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_unique", "novelty_permille")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 1L, 500L), (1L, 2L, 1L, 500L), (2L, 2L, 2L, 1000L),
      (3L, 0L, 0L, 1000L)))
    SessionFrames.release(spark)
  }

  test("topTerms' persisted tf drains through release (caller-owned lifecycle)") {
    // delta-based: other components may hold deliberate session-scoped
    // localCheckpoints (e.g. the shared NB model); the pin is that THIS
    // operator's persists all drain through SessionFrames.release.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = docs((1L, "en", "a b c a"), (2L, "en", "b c d"))
    TrainPrep.topTerms(d, "doc_id", "text", k = 2).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty) // tf was persisted
    SessionFrames.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("BpeMergeCount runs the real greedy rank-priority merge loop") {
    import graft.functions.BpeMerge
    val merges = Seq(("a", "b"), ("ab", "c"), ("c", "d"))
    val rank = BpeMerge.rankMap(merges)
    assert(BpeMerge.countToken("", rank) === 0L)
    assert(BpeMerge.countToken("x", rank) === 1L)
    // "abcd": a|b|c|d → rank0 merges ab → ab|c|d → rank1 merges abc →
    // abc|d, and ("c","d") no longer applies (its c was consumed) → 2
    assert(BpeMerge.countToken("abcd", rank) === 2L)
    assert(BpeMerge.countToken("ab", rank) === 1L)
    assert(BpeMerge.countToken("cd", rank) === 1L) // rank2 fires when c survives
    assert(BpeMerge.countToken("№a", rank) === 2L) // code-point pieces, no merges
    // rank PRIORITY beats left-to-right: with b+c ranked first, "abc"
    // becomes a|bc (then stuck), not ab|c
    val priority = BpeMerge.rankMap(Seq(("b", "c"), ("a", "b"), ("a", "bc")))
    assert(BpeMerge.countToken("abc", priority) === 1L) // a|bc → abc via rank2
    // whitespace-token sum via the codegen'd expression (empty tokens add 0)
    val got = Seq("abcd ab  x").toDF("t")
      .select(graft.functions.TextFns.bpeMergeCount(merges)(col("t")))
      .as[Long].collect().head
    assert(got === 4L) // 2 + 1 + 0 + 1
  }

  test("BpeEncode emits the id sequence whose length is BpeMergeCount") {
    import graft.functions.{BpeMerge, TextFns}
    val merges = Seq(("a", "b"), ("ab", "c"))
    val base = BpeMerge.MergedIdBase
    // hand trace: abc → [abc] (ab fires, then abc), ab → [ab], the doubled
    // space contributes nothing, x and № id as their codepoints
    val got = Seq("abc ab  x №").toDF("t")
      .select(TextFns.bpeEncode(merges)(col("t"))).as[Seq[Long]].collect().head
    assert(got === Seq(base + 2, base + 1, 'x'.toLong, 0x2116L))
    // the sequence's length IS the count expression, on varied text
    val pairs = Seq("the quick ab abc abcd cd", "", "aaa bbb abab").toDF("t")
      .select(size(TextFns.bpeEncode(merges)(col("t"))).cast("long"),
        TextFns.bpeMergeCount(merges)(col("t"))).as[(Long, Long)].collect()
    pairs.foreach { case (n, c) => assert(n === c) }
    // round-trip: pieces concatenate back to the token (encode loses nothing)
    val rank = BpeMerge.rankMap(merges)
    for (tok <- Seq("abcd", "abcabc", "№ab", "x", ""))
      assert(BpeMerge.mergeToken(tok, rank).toArray.mkString === tok)
    // id is a function of the piece STRING: two merges both building "abc"
    // share the first one's id (min rank), so encode stays path-independent
    val amb = Seq(("b", "c"), ("a", "bc"), ("ab", "c"))
    assert(BpeMerge.idMap(amb).get("abc") === base + 2)
    val ambIds = Seq("abc").toDF("t")
      .select(TextFns.bpeEncode(amb)(col("t"))).as[Seq[Long]].collect().head
    assert(ambIds === Seq(base + 2))
  }

  test("splitAssign pins each id's split by the hash contract, stable under corpus growth") {
    val d = docs((0L until 1000L).map(i => (i, "en", s"t $i")): _*)
    val got = TrainPrep.splitAssign(d, "doc_id", testPermille = 100, valPermille = 50)
      .select("doc_id", "split_bucket", "split").as[(Long, Long, String)].collect()
    def bucket(id: Long): Long = (id * 2246822519L + 104729L) % 1000L
    got.foreach { case (id, b, s) =>
      assert(b === bucket(id), s"doc $id bucket")
      assert(s === (if (b < 100) "test" else if (b < 150) "val" else "train"), s"doc $id")
    }
    // rates land near 100/50/850‰ on 1000 sequential ids
    val n = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(n("test") > 60 && n("test") < 140, s"test rate ${n("test")}")
    assert(n("val") > 25 && n("val") < 75, s"val rate ${n("val")}")
    // the split is a function of the id ALONE: a shrunken corpus (a later
    // version, a sampled slice) assigns every surviving id identically —
    // the no-eval-contamination-across-versions property
    val sub = TrainPrep.splitAssign(d.filter(col("doc_id") % 3 === 0), "doc_id", 100, 50)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    got.filter(_._1 % 3 == 0).foreach { case (id, _, s) => assert(sub(id) === s) }
    // and it is NOT the sampling bucket in disguise: within one sampling
    // stratum (sampleBucket < 250) all three splits still occur
    val sampled = got.filter { case (id, _, _) => (id * 2654435761L + 40503L) % 1000L < 250 }
    assert(sampled.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("splitAssign rejects bad permilles and colliding columns") {
    val d = docs((0L, "en", "t"))
    assert(intercept[IllegalArgumentException] {
      TrainPrep.splitAssign(d, "doc_id", testPermille = 600, valPermille = 600)
    }.getMessage.contains("1000"))
    assert(intercept[IllegalArgumentException] {
      TrainPrep.splitAssign(d.withColumn("split", lit("x")), "doc_id", 100, 50)
    }.getMessage.contains("split"))
  }

  test("shuffleShard emits a dense deterministic permutation per shard") {
    val d = docs((0L until 500L).map(i => (i, "en", "t")): _*)
    val got = TrainPrep.shuffleShard(d, "doc_id", nShards = 8)
      .select("doc_id", "shuffle_key", "shard", "pos")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length === 500)
    def key(id: Long): Long = (id * 1779033703L + 512927357L) % 1000000007L
    got.foreach { case (id, k, sh, _) =>
      assert(k === key(id) && sh === k % 8L, s"doc $id key/shard")
    }
    got.groupBy(_._3).foreach { case (sh, rows) =>
      // pos is dense 1..n within the shard and follows key order
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length), s"shard $sh pos")
      val byPos = rows.sortBy(_._4).map(r => (r._2, r._1)).toSeq
      assert(byPos === byPos.sorted, s"shard $sh order")
    }
    // the plan genuinely shuffles: within a shard, pos order ≠ id order
    val shard0 = got.filter(_._3 === 0L).sortBy(_._4).map(_._1).toSeq
    assert(shard0 !== shard0.sorted)
    // rerun is byte-stable (no rand() anywhere)
    val again = TrainPrep.shuffleShard(d, "doc_id", nShards = 8)
      .select("doc_id", "shuffle_key", "shard", "pos")
      .as[(Long, Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("bottomKSample takes exactly the k-prefix of the shuffle order per stratum") {
    val d = docs((0L until 300L).map(i => (i, if (i % 3 == 0) "en" else "de", "t")): _*)
    val got = TrainPrep.bottomKSample(d, "doc_id", "lang", k = 10)
      .select("doc_id", "lang", "sample_rank").as[(Long, String, Long)].collect()
    def key(id: Long): Long = (id * 1779033703L + 512927357L) % 1000000007L
    val expect = (0L until 300L).groupBy(i => if (i % 3 == 0) "en" else "de")
      .flatMap { case (lang, ids) =>
        ids.sortBy(i => (key(i), i)).take(10).zipWithIndex
          .map { case (id, r) => (id, lang, r + 1L) }
      }.toSet
    assert(got.toSet === expect)
    assert(got.count(_._2 == "en") === 10 && got.count(_._2 == "de") === 10)
    // the sample is NOT an id prefix — the hash genuinely shuffles
    assert(got.map(_._1).max > 20L)
    // rerun is byte-stable (no rand() anywhere)
    val again = TrainPrep.bottomKSample(d, "doc_id", "lang", k = 10)
      .select("doc_id", "lang", "sample_rank").as[(Long, String, Long)].collect()
    assert(again.toSet === got.toSet)
  }

  test("packWindows repacks on real BPE counts — the boundaries actually move") {
    val d = docs((0L until 6L).map(i => (i, "en", "abcd abcd")): _*)
    // a sparse merge table leaves "abcd" at ab|c|d = 3 pieces → 6 per doc,
    // 3× the proxy's ceil(4/4) = 1 per token — the count gap that moves
    // every window boundary
    val partial = Seq(("a", "b"))
    val real = TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = 6L, nShards = 1,
      tokenCount = graft.functions.TextFns.bpeMergeCount(partial))
      .select("doc_id", "n_tokens", "window_id").as[(Long, Long, Long)].collect().sortBy(_._1)
    real.zipWithIndex.foreach { case ((id, n, w), i) =>
      assert(n === 6L, s"doc $id")
      assert(w === i.toLong, s"doc $id lands alone per 6-token window")
    }
    // proxy packs the same docs 3-per-window — the ~2-3× count gap the
    // real-tokenizer slot exists for
    val proxy = TrainPrep.packWindows(d, "doc_id", "text", budgetTokens = 6L, nShards = 1)
      .select("doc_id", "n_tokens", "window_id").as[(Long, Long, Long)].collect().sortBy(_._1)
    proxy.foreach { case (id, n, w) => assert(n === 2L && w === id / 3L, s"doc $id") }
  }

  test("vocabTop ranks by frequency with deterministic ties and a monotone coverage curve") {
    // frequencies: a×6, b×4, c×4, d×1 over 3 docs → total 15
    val d = docs(
      (0L, "en", "a a b c a b"), (1L, "en", "a b c c a"), (2L, "en", "a b c d"))
    val top = TrainPrep.vocabTop(d, "doc_id", "text", k = 3)
      .select("rank", "token", "tf", "df", "coverage")
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    // b/c tie at tf=4 breaks on the token string
    assert(top.map(r => (r._1, r._2, r._3, r._4)) ===
      Array((1L, "a", 6L, 3L), (2L, "b", 4L, 3L), (3L, "c", 4L, 3L)))
    // coverage = running tf / corpus total (15 tokens), strictly increasing
    assert(top.map(_._5) === Array(0.4, 10.0 / 15, 14.0 / 15).map(v =>
      math.floor(v * 10000 + 0.5) / 10000))
    // k past the vocab size covers everything
    val all = TrainPrep.vocabTop(d, "doc_id", "text", k = 100)
      .orderBy(col("rank").desc).select("coverage").as[Double].first()
    assert(all === 1.0)
  }

  test("vocabOov counts exactly the occurrences outside the top-k vocab") {
    val d = docs(
      (0L, "en", "a a b c a b"), (1L, "en", "a b c c a"), (2L, "en", "a b c d"))
    // k=1 vocab = {a}: everything else is OOV
    val got = TrainPrep.vocabOov(d, "doc_id", "text", k = 1)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)) ===
      Array((0L, 6L, 3L), (1L, 5L, 3L), (2L, 4L, 3L)))
    got.foreach { case (_, n, oov, rate) =>
      assert(rate === math.floor(oov.toDouble / n * 10000 + 0.5) / 10000)
    }
    // full-vocab k → zero OOV everywhere
    val full = TrainPrep.vocabOov(d, "doc_id", "text", k = 10)
      .agg(sum("n_oov")).as[Long].first()
    assert(full === 0L)
  }

  test("lengthBuckets assigns the smallest power-of-two cap and accounts every token") {
    // bpe estimate: a length-4k token counts k ⇒ craft exact sizes.
    // sizes: 8 → cap 32; 33 → cap 64; 100 → cap 128; 3000 → cap 2048 (trunc)
    def t(n: Long) = Seq.fill(n.toInt)("abcd").mkString(" ")
    val d = docs((0L, "en", t(8)), (1L, "en", t(33)), (2L, "en", t(100)),
      (3L, "en", t(3000)), (4L, "en", t(20)))
    val got = TrainPrep.lengthBuckets(d, "text", batchDocs = 2L)
      .select("bucket_cap", "n_docs", "n_batches", "n_tokens", "pad_tokens", "trunc_tokens")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (32L, 2L, 1L, 28L, 36L, 0L),       // 8+20 tokens, pad 24+12
      (64L, 1L, 1L, 33L, 31L, 0L),
      (128L, 1L, 1L, 100L, 28L, 0L),
      (2048L, 1L, 1L, 3000L, 0L, 952L))) // clamped: no pad, 952 truncated
    // conservation: every input token is either kept, padding's complement,
    // or truncated — sum(min(tok,cap)) + trunc == sum(tok)
    val (kept, trunc, tot) = got.map { case (cap, n, _, tk, pad, tr) =>
      (n * cap - pad, tr, tk)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    assert(kept + trunc === tot)
  }

  test("lengthBuckets rejects degenerate cap and batch configs") {
    val d = docs((0L, "en", "abcd"))
    intercept[IllegalArgumentException](TrainPrep.lengthBuckets(d, "text", minCap = 0))
    intercept[IllegalArgumentException](
      TrainPrep.lengthBuckets(d, "text", minCap = 64, maxCap = 32))
    intercept[IllegalArgumentException](TrainPrep.lengthBuckets(d, "text", batchDocs = 0))
  }

  test("temperatureMix damps big strata and lifts small ones (α = 1/2 contract)") {
    // masses 1600 vs 100 (16:1) → sqrt weights 40:10 (4:1): the big
    // stratum's target share shrinks, the small one's grows
    def t(n: Long) = Seq.fill(n.toInt)("abcd").mkString(" ")
    val d = Seq((0L, "big", t(1600)), (1L, "small", t(100)))
      .toDF("doc_id", "src", "text")
    val got = TrainPrep.temperatureMix(d, "src", "text")
      .select("stratum", "n_tokens", "weight", "actual_mmille", "target_mmille",
        "repeat_millis")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val Array(big, small) = got
    assert(big._1 === "big" && small._1 === "small")
    // exact integer contract, recomputed independently
    assert(big._3 === math.floor(math.sqrt(1600.0) * 10000).toLong)   // 400000
    assert(small._3 === math.floor(math.sqrt(100.0) * 10000).toLong)  // 100000
    assert(big._4 === 1600L * 1000000L / 1700L)   // actual 941176
    assert(big._5 === 400000L * 1000000L / 500000L) // target 800000: damped
    assert(small._5 === 100000L * 1000000L / 500000L) // 200000: lifted from 58823
    assert(big._5 < big._4 && small._5 > small._4)
    // repeat factor realizes target/actual at millis resolution
    assert(small._6 === small._5 * 1000L / small._4)
    assert(small._6 > 1000L && big._6 < 1000L) // small oversampled, big damped
    // shares are a partition of ≤ 1e6 (floor division loses < 1 per stratum)
    assert(got.map(_._5).sum <= 1000000L && got.map(_._5).sum >= 1000000L - 2)
  }

  test("epochAllocation caps repeats at 4 epochs and surfaces the shortfall") {
    // masses 1600 vs 100; α=½ targets 800‰ vs 200‰ of a 2×-corpus budget
    // (3400 tokens): big wants 2720 (1.7 epochs — under cap, no shortfall),
    // small wants 680 = 6.8 epochs — capped at 4 → alloc 400, shortfall 280
    def t(n: Long) = Seq.fill(n.toInt)("abcd").mkString(" ")
    val d = Seq((0L, "big", t(1600)), (1L, "small", t(100)))
      .toDF("doc_id", "src", "text")
    val got = TrainPrep.epochAllocation(TrainPrep.temperatureMix(d, "src", "text"))
      .select("stratum", "n_tokens", "desired_tokens", "epochs_milli",
        "alloc_tokens", "shortfall_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val Array(big, small) = got
    assert(big._3 === 800000L * 3400L / 1000000L)   // 2720
    assert(big._4 === 2720L * 1000L / 1600L && big._4 === 1700L)
    assert(big._5 === 2720L && big._6 === 0L)
    assert(small._3 === 200000L * 3400L / 1000000L) // 680
    assert(small._4 === 4000L)                      // capped (6.8 → 4.0 epochs)
    assert(small._5 === 400L && small._6 === 280L)  // 4 epochs of 100; rest is new-data debt
  }

  test("curriculumStages splits a distinct-score ranking into equal stages") {
    val d = (0L until 12L).map(i => (i, "en", s"t$i", i.toDouble)).toSeq
      .toDF("doc_id", "lang", "text", "difficulty")
    val got = TrainPrep.curriculumStages(d, col("difficulty"), k = 4)
      .select("doc_id", "stage").as[(Long, Long)].collect().toMap
    // 12 docs, 4 stages: stage = docs_below * 4 div 12 — 3 docs per stage
    assert(got === (0L until 12L).map(i => i -> i / 3).toMap)
  }

  test("curriculumStages keeps equal scores in one stage (ties never split)") {
    // 6 docs scoring 1.0 straddle the 4-doc stage width; all share stage 0
    val d = ((0L until 6L).map(i => (i, 1.0)) ++ Seq((6L, 2.0), (7L, 3.0)))
      .toDF("doc_id", "difficulty")
    val got = TrainPrep.curriculumStages(d, col("difficulty"), k = 2)
      .select("doc_id", "stage").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L,
      6L -> 1L, 7L -> 1L)) // 6 docs_below·2 div 8 = 1
  }

  test("curriculumStages rejects bad k and colliding columns") {
    val d = Seq((0L, 1.0)).toDF("doc_id", "score")
    intercept[IllegalArgumentException](
      TrainPrep.curriculumStages(d, col("score"), k = 0))
    intercept[IllegalArgumentException](
      TrainPrep.curriculumStages(d, col("score") * 2, k = 2)) // input has `score`
  }

  // -- bpeTrain ---------------------------------------------------------------

  /** maxVocab = 0 forces the distributed rounds; the default takes the
    * single-task fast path (the DedupSpec local-solve convention). */
  private def trained(d: DataFrame, n: Int,
                      maxVocab: Long = TrainPrep.LocalSolveMaxVocab
                     ): Seq[(Long, String, String, String, Long)] = {
    val out = TrainPrep.bpeTrain(d, nMerges = n, localSolveMaxVocab = maxVocab)
      .as[(Long, String, String, String, Long)].collect().toSeq
    SessionFrames.release(spark)
    out
  }

  test("bpeTrain learns the hand-computed merge list on BOTH paths") {
    // tf: abab=10, abc=5, ab=3, banana=2 — the classic worked example:
    //   rank 1 (a,b)   n_occ 2·10+5+3 = 28
    //   rank 2 (ab,ab) n_occ 10          ← rank-1 output on both sides
    //   rank 3 (ab,c)  n_occ 5
    //   rank 4 (a,n)   n_occ 4           ← tie with (n,a) broken on sym_a
    val d = docs(
      (0L, "en", Seq.fill(10)("abab").mkString(" ")),
      (1L, "en", Seq.fill(5)("abc").mkString(" ")),
      (2L, "en", Seq.fill(3)("ab").mkString(" ")),
      (3L, "en", Seq.fill(2)("banana").mkString(" ")))
    val expect = Seq(
      (1L, "a", "b", "ab", 28L),
      (2L, "ab", "ab", "abab", 10L),
      (3L, "ab", "c", "abc", 5L),
      (4L, "a", "n", "an", 4L))
    assert(trained(d, 4) === expect)                // local fast path
    assert(trained(d, 4, maxVocab = 0L) === expect) // distributed rounds
  }

  test("bpeTrain merges self-pairs leftmost-first (aaa → [aa, a]) on BOTH paths") {
    val d = docs((0L, "en", Seq.fill(3)("aaa").mkString(" ")))
    // per 'aaa': pass 1 sees pairs (a,a)×2, merges the LEFT one → [aa, a];
    // pass 2's only pair is (aa, a)
    val expect = Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "aa", "a", "aaa", 3L))
    assert(trained(d, 3) === expect)
    assert(trained(d, 3, maxVocab = 0L) === expect)
  }

  test("bpeTrain stops early when the vocabulary runs out of pairs, on BOTH paths") {
    val d = docs((0L, "en", "ab ab ab"))
    assert(trained(d, 5) === Seq((1L, "a", "b", "ab", 3L)))
    assert(trained(d, 5, maxVocab = 0L) === Seq((1L, "a", "b", "ab", 3L)))
  }

  test("bpeTrain's distributed rounds are invariant to input partitioning") {
    val d = docs((0L until 40L).map(i =>
      (i, "en", Seq("alpha", "beta", "gamma", "delta")(i.toInt % 4) * 1)): _*)
    assert(trained(d.repartition(7), 6, maxVocab = 0L) ===
      trained(d.coalesce(1), 6, maxVocab = 0L))
  }

  test("bpeTrain's merge list drives BpeMergeCount (train-then-apply composition)") {
    import graft.functions.BpeMerge
    val d = docs(
      (0L, "en", Seq.fill(10)("abab").mkString(" ")),
      (1L, "en", Seq.fill(5)("abc").mkString(" ")))
    val merges = trained(d, 2).map(m => (m._2, m._3))
    assert(merges === Seq(("a", "b"), ("ab", "ab")))
    val rank = BpeMerge.rankMap(merges)
    // rank-priority greedy apply under the learned table: abab collapses to
    // one piece, abc to [ab, c] (no (ab,c) merge was learned at depth 2)
    assert(BpeMerge.countToken("abab", rank) === 1L)
    assert(BpeMerge.countToken("abc", rank) === 2L)
    assert(BpeMerge.countToken("banana", rank) === 6L)
  }

  test("cooccurrenceLift scores a planted pair exactly and ignores out-of-vocab tokens") {
    // 8 docs: "x y" co-occur in 4, each also appears alone twice → df 6 each;
    // "rare*" tokens are below the vocab cap and must never pair
    val docs = (Seq.fill(4)("x y") ++ Seq.fill(2)("x f1") ++ Seq.fill(2)("y f2"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t + s" rare$i") }
      .toDF("doc_id", "text")
    val got = TrainPrep.cooccurrenceLift(docs, "doc_id", "text",
      vocabK = 4, minPairs = 2, topK = 10)
      .select("token_a", "token_b", "n_ab", "lift")
      .as[(String, String, Long, Double)].collect()
    // vocab by df: x(6), y(6), f1(2), f2(2) — every rare* token is df-1, out
    val xy = got.find(r => r._1 == "x" && r._2 == "y").get
    assert(xy._3 === 4L)
    assert(math.abs(xy._4 - 4.0 * 8 / (6 * 6)) < 1e-4) // n_ab·N/(df_x·df_y) = 32/36
    assert(got.forall(r => !r._1.startsWith("rare") && !r._2.startsWith("rare")))
    // at the support floor: (f1, x) and (f2, y) co-occur twice, kept (pair
    // order is lexicographic, so f* land in token_a); singletons are gone
    assert(got.count(r => r._1 == "f1" || r._1 == "f2") === 2)
  }
}
