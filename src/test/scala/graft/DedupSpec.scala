package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Dedup

/** Dedup-operator semantics on planted duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  test("exactGroups collapses case/whitespace-normalized duplicates") {
    val d = docs((1, "Hello World"), (2, "hello world  "), (3, "other text"))
    val g = Dedup.exactGroups(d, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(g === Set((1L, 2L), (3L, 1L))) // (keep_id, n_copies)
  }

  test("urlCanon: scheme/www/port/tracking/fragment/trailing-slash edge cases") {
    val cases = Seq(
      // everything at once: scheme+www+default port+tracking+fragment+slash
      ("HTTPS://WWW.EXAMPLE.com:443/a/b/?utm_source=x#frag", "example.com/a/b"),
      // real param kept, tracking stripped, default http port stripped
      ("http://example.com:80/a?id=5&utm_medium=y", "example.com/a?id=5"),
      // tracking params sandwiching a real one — separator debris collapses
      ("http://example.com/a?utm_a=1&id=5&utm_b=2", "example.com/a?id=5"),
      // all-tracking query vanishes entirely (with the root slash)
      ("http://example.com/?gclid=abc&ref=tw", "example.com"),
      // NON-default port is part of the identity — kept
      ("https://sub.example.com:8080/x", "sub.example.com:8080/x"),
      // host lowercases, path case is PRESERVED
      ("http://EXAMPLE.com/Docs/A", "example.com/Docs/A"),
      // IDN hosts are punycode ASCII on the wire — lowercase is safe
      ("http://XN--MNCHEN-3YA.de/Path/", "xn--mnchen-3ya.de/Path"),
      // `ref` strips only as a whole param name (referrer= is not tracking)
      ("http://example.com/a?referrer=x", "example.com/a?referrer=x"),
      // schemeless input passes through the same chain
      ("example.com/plain", "example.com/plain"),
      ("http://www.example.com", "example.com"))
    val got = cases.toDF("raw", "want")
      .select(col("want"), Dedup.urlCanon(col("raw")).as("got"))
      .as[(String, String)].collect()
    got.foreach { case (want, g) => assert(g === want) }
  }

  test("shingles: n-gram count and short-text guard") {
    val d = docs((1, "a b c d"), (2, "a b")) // 4 tokens → two 3-shingles; 2 tokens → none
    val r = d.select(col("doc_id"), size(TextFns.shingles(col("text"), 3)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(r === Map(1L -> 2, 2L -> 0))
  }

  test("ngramJaccard scores a planted near-dup exactly") {
    // doc1: shingles {a b c, b c d, c d e}; doc2 shares {b c d, c d e} + {d e X}
    // jaccard = 2 / 4 = 0.5
    val d = docs((1, "a b c d e"), (2, "b c d e X"), (3, "q r s t u"))
    val pairs = Dedup.ngramJaccard(d, "text", "doc_id", n = 3, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 2L, 0.5)))
  }

  test("containmentPairs is directional: a pasted paragraph scores high A→B, low B→A") {
    // doc1 = a 10-token paragraph; doc2 = a 60-token page with doc1 pasted in
    val para = (1 to 10).map("p" + _).mkString(" ")
    val page = (1 to 50).map("w" + _).mkString(" ") + " " + para
    val d = docs((1, para), (2, page), (3, "q r s t u v"))
    val got = Dedup.containmentPairs(d, "text", "doc_id", n = 3, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSet
    // doc1 has 8 shingles, all present in doc2 → C(1→2) = 1.0; doc2's 58
    // shingles include ≤10 of doc1's (8 + 2 bridge) → C(2→1) ≈ 0.17, below
    // threshold; symmetric Jaccard (8/58 ≈ 0.14) would never surface this
    assert(got === Set((1L, 2L, 1.0)))
  }

  test("containmentPairs matches a brute-force reference on a dense corpus (lossless prefix)") {
    // overlapping sliding windows over a tiny alphabet → many partial
    // containments on both sides of the threshold
    val rows = (0 until 24).map { i =>
      (i.toLong, (0 until 8).map(j => "t" + ((i + j * (1 + i % 3)) % 17)).mkString(" "))
    }
    val d = rows.toDF("doc_id", "text")
    val t = 0.5
    def shingles(s: String): Set[Seq[String]] =
      s.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.toSeq).toSet
    val expected = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia != ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && (sa & sb).size.toDouble / sa.size >= t
    } yield (ia, ib)).toSet
    val got = Dedup.containmentPairs(d, "text", "doc_id", n = 3, threshold = t)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("minhashLsh finds the planted near-dup pair with its exact jaccard") {
    val near = (1 to 30).map("w" + _).mkString(" ")
    val d = docs((1, near), (2, near + " extra"), (3, (100 to 130).map("z" + _).mkString(" ")))
    val pairs = Dedup.minhashLsh(d, "text", "doc_id", n = 3,
      bands = 16, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length === 1)
    val (a, b, j) = pairs.head
    assert((a, b) === ((1L, 2L)))
    // shingle sets: 28 vs 29, 28 common → 28/29
    assert(math.abs(j - math.floor(28.0 / 29 * 10000 + 0.5) / 10000) < 1e-12)
  }

  test("duplicateSpans localizes and merges cross-doc duplicate runs") {
    // d1/d2 share the 3-gram "x y z" (d1 pos 0, d2 pos 2); every other
    // token is unique, so exactly those two intervals survive
    val d = docs(
      (1, "x y z a1 a2 a3"),
      (2, "b1 b2 x y z b3"),
      (3, "c1 c2 c3 c4 c5"))
    val r = Dedup.duplicateSpans(d, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r === Set((1L, 0L, 2L, 3L), (2L, 2L, 4L, 3L)))
  }

  test("duplicateSpans counts within-doc repeats and merges touching intervals") {
    // "m n o p q" repeated back-to-back: dup 3-gram positions 0,1,2 and
    // 5,6,7; intervals [0,4] and [5,9] TOUCH (5 = 4 + 1) → one span 0..9
    val d = docs((1, "m n o p q m n o p q"))
    val r = Dedup.duplicateSpans(d, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r === Set((1L, 0L, 9L, 10L)))
  }

  test("duplicateSpans keeps gapped repeats as separate spans") {
    // "x y z" at pos 0 and pos 7 of the SAME doc, gap of 4 unique tokens:
    // 7 > 2 + 1 → two spans
    val d = docs((1, "x y z g1 g2 g3 g4 x y z"))
    val r = Dedup.duplicateSpans(d, "text", "doc_id", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(r === Set((1L, 0L, 2L, 3L), (1L, 7L, 9L, 3L)))
  }

  test("duplicateSpans matches a driver-side reference on random dense corpora") {
    // tiny alphabet → heavy repetition, the regime where merge logic is
    // stressed; reference recomputes spans with plain Scala collections
    def refSpans(rows: Seq[(Long, String)], n: Int): Set[(Long, Long, Long, Long)] = {
      val grams = rows.flatMap { case (id, text) =>
        val t = text.split(" ", -1)
        (0 to t.length - n).map(p => (id, p, t.slice(p, p + n).mkString(" ")))
      }
      val df = grams.groupBy(_._3).view.mapValues(_.size).toMap
      grams.filter(g => df(g._3) >= 2).groupBy(_._1).flatMap { case (id, ps) =>
        val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
        for (p <- ps.map(_._2).sorted) {
          val e = p + n - 1
          if (spans.nonEmpty && p <= spans.last._2 + 1) {
            val (s0, e0) = spans.last
            spans(spans.size - 1) = (s0, math.max(e0, e))
          } else spans += ((p, e))
        }
        spans.map { case (s0, e0) => (id, s0.toLong, e0.toLong, (e0 - s0 + 1).toLong) }
      }.toSet
    }
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 20L).map(id =>
        id -> Seq.fill(5 + rnd.nextInt(26))("t" + rnd.nextInt(8)).mkString(" "))
      val got = Dedup.duplicateSpans(rows.toDF("doc_id", "text"), "text", "doc_id", n = 3)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === refSpans(rows, 3), s"seed $seed diverged")
    }
  }

  test("duplicateClusters propagates min labels across chains") {
    // chain 1-2-3 (no direct 1-3 edge) plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val r = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("softWeights: cluster members split a unit ppm weight, singletons keep it all") {
    // cluster {1,2,3} (chained labels) + singletons 7 and 8
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(pairs)
    val d = docs((1, "x"), (2, "x"), (3, "x"), (7, "y"), (8, "z"))
    val w = Dedup.softWeights(d, "doc_id", labels)
      .select("doc_id", "cluster_id", "n_copies", "weight_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(w === Set((1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L),
      (3L, 1L, 3L, 333333L), (7L, 7L, 1L, 1000000L), (8L, 8L, 1L, 1000000L)))
  }

  test("duplicateClusters converges in O(log n) rounds on a long chain") {
    // path graph 1-2-…-40 (diameter 39): naive min-label propagation needs
    // ~39 rounds; alternating large-star/small-star must stay logarithmic.
    // localSolveMaxEdges = 0 forces the distributed loop — the default
    // would solve 39 edges in the single-task fast path and test nothing.
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.clusterRounds(pairs, localSolveMaxEdges = 0L)
    val r = labels.as[(Long, Long)].collect()
    assert(r.length === n)
    assert(r.forall(_._2 == 1L), "every chain node must label to the minimum")
    assert(rounds >= 1, "the star loop must actually have run")
    assert(rounds <= 8, s"took $rounds rounds for a $n-node chain (diameter ${n - 1})")
  }

  test("the single-task fast path solves small edge sets with zero star rounds") {
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.clusterRounds(pairs) // default cutover: 39 edges qualify
    assert(rounds === 0, "small set should not enter the star loop")
    val r = labels.as[(Long, Long)].collect()
    assert(r.length === n && r.forall(_._2 == 1L))
  }

  test("clusterRounds leaves no persisted blocks once its handle is drained") {
    // both the fast path (default) and the star loop (threshold 0); the
    // single drain is SessionFrames.release
    for (threshold <- Seq(Dedup.LocalSolveMaxEdges, 0L)) {
      SessionFrames.release(spark) // earlier tests' persists of the same plans
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val (labels, _) = Dedup.clusterRounds(pairs, localSolveMaxEdges = threshold)
      labels.count()
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
        s"labels were not persisted (threshold $threshold)")
      SessionFrames.release(spark)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"round blocks survived release (threshold $threshold): $leaked")
    }
  }

  test("duplicateClusters matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { trial =>
      val nNodes = 60
      val edges = Seq.fill(80)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(p => p._1 != p._2).distinct
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(p => Seq(p._1, p._2)).distinct
      val minOfComponent = nodes.groupBy(id => find(id.toInt)).values
        .flatMap(comp => comp.map(_ -> comp.min)).toMap
      // default path (single-task fast path at this size)
      val got = Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      assert(got === minOfComponent, s"trial $trial: ${edges.size} edges")
      // distributed star loop must agree on the same graph
      val gotStar = Dedup.clusterRounds(edges.toDF("doc_a", "doc_b"),
        localSolveMaxEdges = 0L)._1.as[(Long, Long)].collect().toMap
      assert(gotStar === minOfComponent, s"trial $trial (star loop)")
    }
  }

  test("compiled HashedShingles matches the declarative reference bit-exactly") {
    // fixture-wide: every document at sf0.001, identical arrays incl. order
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(TextFns.hashedShingles(col("text"), 3).as("fast"),
        KernelRefs.hashedShinglesRef(col("text"), 3).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(fixture === 0)
    // edges: empty/short text, repeated+leading+trailing spaces, multi-byte
    import spark.implicits._
    val edge = Seq("", "a", "a b", "a b c", "a b a b a b", "a  b c d",
      " a b c", "a b c ", "ä ü 中 文 word").toDF("text")
    val mism = edge
      .select(TextFns.hashedShingles(col("text"), 3).as("fast"),
        KernelRefs.hashedShinglesRef(col("text"), 3).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mism === 0)
  }

  test("boilerplate flags within-source template tiles, never cross-source phrases") {
    val chrome = "subscribe to our newsletter now" // one 5-token tile
    val docs = Seq(
      (1L, s"$chrome alpha beta gamma delta epsilon", "siteA"),
      (2L, s"$chrome zeta eta theta iota kappa", "siteA"),
      (3L, s"$chrome lambda mu nu xi omicron", "siteB"))
      .toDF("doc_id", "text", "source")
    val r = graft.operators.Dedup
      .boilerplate(docs, "text", "doc_id", "source", p = 5, minDf = 2L)
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    // siteA docs: the chrome tile repeats within the source → 1 of 2 tiles
    assert(r(1L) === ((2L, 1L, 500L)))
    assert(r(2L) === ((2L, 1L, 500L)))
    // siteB carries the SAME phrase but it is unique within its source:
    // cross-source repeats are duplication, not boilerplate
    assert(r(3L) === ((2L, 0L, 0L)))
  }

  test("positional HashedShingles keeps every occurrence in token order") {
    // declarative positional reference: hash of each token n-tuple, NO distinct
    def posRef(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = TextFns.tokens(text)
      val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
        i => xxhash64((0 until n).map(j => element_at(toks, i + j)): _*))
      when(size(toks) >= n, grams).otherwise(array().cast("array<bigint>"))
    }
    import spark.implicits._
    val edge = Seq("", "a b", "a b a b a b", "m n o p q m n o p q",
      " a b c ", "ä ü 中 文 word").toDF("text")
    val mism = Tables.documents(spark, "/root/testdata/sf0.001").select(col("text"))
      .union(edge)
      .select(TextFns.hashedShinglesAll(col("text"), 3).as("fast"),
        posRef(col("text"), 3).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mism === 0)
  }

  test("release leaves no persisted RDDs behind (caller-owned cache lifecycle)") {
    // delta-based: other components may hold deliberate session-scoped
    // localCheckpoints (e.g. the shared NB model); the pin is that THIS
    // operator's persists all drain through SessionFrames.release.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val d = docs((1, "a b c d e"), (2, "b c d e X"), (3, "q r s t u"))
    Dedup.ngramJaccard(d, "text", "doc_id", n = 3, threshold = 0.4).collect()
    Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 3).collect()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty) // operators did persist
    SessionFrames.release(spark)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("simhash: identical token multisets collide at hamming 0") {
    val d = docs((1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
      (3, "совсем other words here"))
    val pairs = Dedup.simhashPairs(d, "text", "doc_id", maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simhashSeparation: near-dups audit under the ceiling, background over the floor") {
    // docs 1–4: a near-dup pair (1,2) differing in one token of ten (3-gram
    // jaccard 9/13 ≈ 0.69... below 0.9 — so lengthen: 30 shared tokens, one
    // changed → j = 27/31 ≈ 0.87; use identical pair for a sure ≥ 0.9 row)
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val d = docs(
      (1, toks(30, "t")), (2, toks(30, "t")),                // identical: j = 1.0
      (3, toks(30, "u")), (4, toks(30, "v")))                // unrelated neighbors
    val grid = Dedup.simhashSeparation(d, "text", "doc_id")
      .as[(String, Long, Long, Boolean)].collect().toList
    // populations sorted; denominators exact: one j ≥ 0.9 pair, three
    // consecutive-id pairs (1,2)(2,3)(3,4)
    assert(grid.map(r => (r._1, r._2, r._3)) ===
      List(("background", 3L, 11000L), ("neardup", 1L, 9000L)))
    // identical docs hash identically → mean 0 ≤ 9.0 → ok; the background
    // mean includes the hamming-0 (1,2) pair, so only assert the near row
    // here (the fixture-scale bounds are exercised by the driver oracle)
    assert(grid.find(_._1 == "neardup").get._4)
    SessionFrames.release(spark)
  }

  test("codegen'd SimHash64 matches the vote-Aggregator reference bit-exactly") {
    // fixture-wide: every document at sf0.001 — the commutative-vote claim
    // checked against the explode + groupBy + udaf form, fingerprint by
    // fingerprint (non-ASCII, repeated tokens, empty tokens included)
    val fixture = Tables.documents(spark, "/root/testdata/sf0.001")
    val fast = Dedup.simhash(fixture, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    val ref = KernelRefs.simhashRef(fixture, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(fast.size === ref.size && fast.nonEmpty)
    assert(fast === ref)
  }

  test("clusterPurity flags chained pairs whose direct similarity is below threshold") {
    // sliding chain over t1..t16: A~B and B~C both J = 8/12 ≥ 0.5, but
    // A~C J = 6/14 < 0.5 — the transitive closure merges all three
    def toks(a: Int, b: Int) = (a to b).map(i => s"t$i").mkString(" ")
    val d = docs(
      (10L, toks(1, 12)), (11L, toks(3, 14)), (12L, toks(5, 16)),
      (20L, "x1 x2 x3 x4 x5 x6"), (21L, "x1 x2 x3 x4 x5 x6"), // identical pair
      (30L, "y1 y2 y3 y4 y5 y6 y7"))                          // unclustered
    val got = Dedup.clusterPurity(d, "text", "doc_id", n = 3, threshold = 0.5)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got === Array(
      (10L, 3L, 3L, 2L, 1L, math.floor(6.0 / 14 * 10000 + 0.5) / 10000),
      (20L, 2L, 1L, 1L, 0L, 1.0)))
    // the cap excludes oversized clusters instead of exploding them
    val capped = Dedup.clusterPurity(d, "text", "doc_id", n = 3, threshold = 0.5,
      maxMembers = 2)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(capped.map(_._1).toSeq === Seq(20L))
    intercept[IllegalArgumentException](
      Dedup.clusterPurity(d, "text", "doc_id", n = 3, threshold = 0.5, maxMembers = 1))
  }

  test("dedup sweep: the one-pass union-find equals the per-threshold clustering form") {
    import org.apache.spark.sql.functions.{floor => ffloor}
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ext_dedup_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    SessionFrames.release(spark)
    // reference: the replaced form — filter the pair table per threshold,
    // run the relational clustering, aggregate
    val docs = graft.Tables.documents(spark, d)
    val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .localCheckpoint(true)
    SessionFrames.release(spark)
    val ntok = docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    val want = Seq(500L, 600L, 700L, 800L, 900L).map { t =>
      val pt = pairs.filter(
        ffloor(col("jaccard") * 10000.0 + 0.5).cast("long") >= t * 10L)
      val nPairs = pt.count()
      val cl = Dedup.duplicateClusters(pt.select(col("doc_a"), col("doc_b")))
        .join(ntok, "doc_id")
        .select(col("doc_id"), col("cluster_id"), col("n_tokens"))
        .as[(Long, Long, Long)].collect()
      SessionFrames.release(spark)
      val nDup = cl.length.toLong
      val nCl = cl.map(_._2).distinct.length.toLong
      val dropTok = cl.filter(r => r._1 != r._2).map(_._3).sum
      (t, nPairs, nDup, nCl, nDup - nCl, dropTok)
    }
    assert(got === want)
  }

  test("dedup policy grid reconciles with the sweep's totals and the quality audit's bands") {
    val d = "/root/testdata/sf0.001"
    val policy = SparkEntry.queries("ext_dedup_policy")(spark, d)
      .as[(Long, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    SessionFrames.release(spark)
    val sweep = SparkEntry.queries("ext_dedup_sweep")(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    SessionFrames.release(spark)
    assert(policy.nonEmpty)
    // per threshold, the banded grid sums back to the sweep's curve row:
    // same clustering, same survivors, same token ledger
    policy.groupBy(_._1).foreach { case (t, rows) =>
      val s = sweep(t)
      assert(rows.map(_._3).sum === s._4, s"t=$t n_clusters")
      assert(rows.map(_._4).sum === s._3, s"t=$t n_dup_docs")
      assert(rows.map(_._5).sum === s._5, s"t=$t drop_docs")
      assert(rows.map(_._6).sum === s._6, s"t=$t drop_tokens")
    }
    // at the loosest threshold the bands ARE the quality audit's clustered
    // bands (same 0.5 pair slice, same min-id labels, same band edges)
    val quality = SparkEntry.queries("ext_dedup_quality")(spark, d)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    SessionFrames.release(spark)
    policy.filter(_._1 == 500L).foreach { p =>
      val q = quality(p._2)
      assert(p._3 === q._2, s"band ${p._2} n_clusters vs quality n_groups")
      assert(p._4 === q._3, s"band ${p._2} n_docs")
    }
  }

  test("cross-source matrix reconciles with the pair tier: cells sum to the pair count") {
    val d = "/root/testdata/sf0.001"
    val matrix = SparkEntry.queries("ext_dedup_cross_source")(spark, d)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    SessionFrames.release(spark)
    val pairs = SparkEntry.queries("ext_dedup_ngram")(spark, d).collect()
    SessionFrames.release(spark)
    assert(matrix.nonEmpty)
    // every near-dup pair lands in exactly one unordered source cell
    assert(matrix.map(_._3).sum === pairs.length.toLong)
    // victims are distinct per cell, so a cell's victim count never
    // exceeds its pair count, and the matrix is upper-triangular by name
    matrix.foreach { m =>
      assert(m._4 <= m._3, s"cell ${m._1}/${m._2}")
      assert(m._1 <= m._2)
    }
  }

  test("winnowing: the k+w-1 guarantee, short-doc edges, and selection density") {
    val P = 1000000007L
    val shared = "zqxjvwpyr kbdf" // 14 chars ≥ k+w−1 = 11 → must share a fingerprint
    val frame = docs(
      (1L, s"aaa bbb ccc $shared ddd eee"),
      (2L, s"fff ggg $shared hhh iii jjj"))
    val fps = Dedup.winnowFingerprints(frame, "text", "doc_id", 8, 4, P)
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty,
      "a shared ≥(k+w−1)-char run must land a shared fingerprint")
    // short-doc edges: <k chars → no grams; k ≤ len with grams < w → the
    // single truncated window still selects exactly one fingerprint
    val sf = Dedup.winnowFingerprints(
        docs((1L, "abcdefg"), (2L, "abcdefgh"), (3L, "abcdefghij")),
        "text", "doc_id", 8, 4, P)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sf(1L).isEmpty)
    assert(sf(2L).length === 1)
    assert(sf(3L).length === 1)
    // density: on long text the winnow keeps a strict sample of the grams
    // (~2/(w+1)) — never more than one per window start
    val long = docs((9L, ("the quick brown fox jumps over the lazy dog " * 8).trim))
    val sel = Dedup.winnowFingerprints(long, "text", "doc_id", 8, 4, P)
      .as[(Long, Seq[Long])].collect().head._2
    val nGrams = long.first().getString(1).length - 7
    assert(sel.length < nGrams / 2, s"${sel.length} of $nGrams grams kept")
  }

  test("winnowing: astral (non-BMP) text hashes by CODE POINTS — the RollingHash/oracle contract") {
    val P = 1000000007L
    // 12 astral code points = 24 UTF-16 code units. A code-unit kernel
    // would see 17 grams built from surrogate halves; the code-point
    // contract (shared with RollingHash and the DuckDB twin's text[i:j])
    // sees 12 characters → 5 grams.
    val text = (0 until 12).map(i => new String(Character.toChars(0x1F600 + i))).mkString
    assert(text.length === 24 && text.codePointCount(0, text.length) === 12)
    val got = Dedup.winnowFingerprints(docs((1L, text)), "text", "doc_id", 8, 4, P)
      .as[(Long, Seq[Long])].collect().head._2
    // independent reference over the CODE-POINT sequence: rolling gram
    // hashes, then rightmost-min per w-window with argmin-dedup
    val cps = text.codePoints().toArray
    val grams = (0 to cps.length - 8).map(i =>
      (i until i + 8).foldLeft(0L)((a, j) => (a * 31L + cps(j)) % P))
    assert(grams.length === 5)
    val exp = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = -1
    for (st <- 0 until math.max(grams.length - 3, 1)) {
      val end = math.min(st + 3, grams.length - 1)
      var best = st
      for (j <- st to end) if (grams(j) <= grams(best)) best = j
      if (best != last) { exp += grams(best); last = best }
    }
    assert(got === exp.toSeq,
      "astral text must winnow over code points, not UTF-16 code units")
  }

  test("winnowPairs: verbatim copies pair up; boilerplate past the df-cap cannot") {
    val P = 1000000007L
    val boiler = "standard header used by every page of this mirror site"
    val copy = "an entirely distinctive passage that appears verbatim in two docs only"
    val rows =
      (1L to 20L).map(i => (i, s"$boiler unique tail marker $i")) ++
        Seq((21L, s"$copy opening words"), (22L, s"$copy closing words"))
    val pairs = Dedup.winnowPairs(rows.toDF("doc_id", "text"), "text", "doc_id",
        k = 8, w = 4, modulus = P, maxDf = 16L, minShared = 3L)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((21L, 22L)),
      s"only the verbatim copy pair may survive the df-cap: $pairs")
    assert(pairs.head._3 >= 3L)
  }
}
