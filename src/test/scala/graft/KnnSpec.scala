package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Knn, Multimodal}
import graft.queries.ExtQueries

/** Similarity-search and centroid-aggregator semantics. */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")

  test("codegen'd snap100 matches the declarative transform bit-exactly") {
    import org.apache.spark.sql.functions.col
    val v = vecs(
      0L -> Seq(0.12345f, -0.98765f, 0.0f),
      1L -> Seq(1.00005f, -2.5f, 0.55555f),  // .5 rounding boundaries
      2L -> Seq(-0.00004f, 0.00004f, 123.456f),
      3L -> Seq.empty[Float])
    val fused = v.select(col("vec_id"), Knn.snap100(col("embedding")).as("s"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val decl = v.select(col("vec_id"), KernelRefs.snap100Ref(col("embedding")).as("s"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(fused === decl)
  }

  test("codegen'd floatVecSub matches zip_with subtraction incl. ragged pairs") {
    import org.apache.spark.sql.functions.{col, expr}
    val d = Seq(
      (0L, Array(1.5f, -2.25f, 0.125f), Array(0.5f, 1.75f, -0.375f)),
      (1L, Array(1.0f, 2.0f), Array(0.25f, 0.5f, 0.75f)),   // ragged: a shorter
      (2L, Array(1.0f, 2.0f, 3.0f), Array(0.5f)),           // ragged: b shorter
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
    val fused = d.select(col("id"), Knn.floatVecSub(col("a"), col("b")).as("r"))
      .as[(Long, Seq[Option[Float]])].collect().sortBy(_._1).toSeq
    val decl = d.select(col("id"), KernelRefs.floatVecSubRef(col("a"), col("b")).as("r"))
      .as[(Long, Seq[Option[Float]])].collect().sortBy(_._1).toSeq
    assert(fused === decl)
    assert(fused.find(_._1 == 1L).get._2 === Seq(Some(0.75f), Some(1.5f), None))
  }

  test("bruteForce ranks by exact cosine, excludes self, respects k") {
    val v = vecs(
      0L -> Seq(1f, 0f), // query
      1L -> Seq(2f, 0f), // cosine 1.0
      2L -> Seq(1f, 1f), // cosine ~0.7071
      3L -> Seq(0f, 1f)) // cosine 0.0
    val r = Knn.bruteForce(v, v.filter($"vec_id" === 0), "vec_id", "embedding", k = 2)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().sorted
    assert(r === Seq((1L, 1L), (2L, 2L)))
  }

  test("lshKnn returns neighbors with the same cosine scores as brute force") {
    val base = (0 until 20).map(i => i.toLong -> Seq.tabulate(8)(j => ((i * 7 + j * 13) % 10).toFloat))
    val v = vecs(base: _*)
    val brute = Knn.bruteForce(v, v.filter($"vec_id" < 3), "vec_id", "embedding", k = 19)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    val lsh = Knn.lshKnn(v, v.filter($"vec_id" < 3), "vec_id", "embedding",
      k = 5, bands = 4, bitsPerBand = 4)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, n, c) => assert(brute((q, n)) === c) }
  }

  test("cosineNearDup finds planted duplicate vectors and nothing else") {
    val v = vecs(
      1L -> Seq(1f, 2f, 3f), 2L -> Seq(2f, 4f, 6f), // colinear → cosine 1
      3L -> Seq(-3f, 1f, 0f))
    val r = Knn.cosineNearDup(v, "vec_id", "embedding", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r === Set((1L, 2L)))
  }

  test("cosineNearDupLsh recalls the exact near-dup pairs on the fixture") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"label" === 0)
    val exact = Knn.cosineNearDup(emb, "vec_id", "embedding", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Knn.cosineNearDupLsh(emb, "vec_id", "embedding",
      threshold = 0.3, bands = 16, bitsPerBand = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // verification makes false positives impossible
    // the query shares the EXACT join's oracle, so the fixture claim is
    // recall exactly 1.0 — any drift must fail here, before an oracle hash
    assert(lsh === exact, s"recall ${lsh.size}/${exact.size} — fixture recall must be 1.0")
  }

  test("codegen'd SRP band keys match the declarative reference form bit-exactly") {
    // fixture-wide at the production parameters of ext_sim_neardup_lsh
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def keys(f: (DataFrame, String, String, Int, Int) => DataFrame) =
      f(emb, "vec_id", "embedding", 16, 2)
        .as[(Long, Int, Long)].collect().toSet
    assert(keys(Knn.lshBandKeys) === keys(KernelRefs.lshBandKeysRef))
    // and on a non-64 dimension with negative components
    val v = vecs(1L -> Seq(1f, -2f, 3f), 2L -> Seq(-2f, 4f, -6f), 3L -> Seq(0.5f, 0.5f, 0.5f))
    def keys3(f: (DataFrame, String, String, Int, Int) => DataFrame) =
      f(v, "vec_id", "embedding", 3, 4).as[(Long, Int, Long)].collect().toSet
    assert(keys3(Knn.lshBandKeys) === keys3(KernelRefs.lshBandKeysRef))
    // an EMPTY embedding emits no band-key rows in either form (the
    // expression returns NULL, matching the reference's posexplode of an
    // empty array) — empty vectors must not all collide in bucket 0
    val e = vecs(1L -> Seq(1f, 2f, 3f), 2L -> Seq.empty[Float])
    def keysE(f: (DataFrame, String, String, Int, Int) => DataFrame) =
      f(e, "vec_id", "embedding", 3, 4).as[(Long, Int, Long)].collect().toSet
    val got = keysE(Knn.lshBandKeys)
    assert(got === keysE(KernelRefs.lshBandKeysRef))
    assert(got.map(_._1) === Set(1L))
  }

  test("cosineNearDupLsh prunes candidates at a strong threshold (planted near-dups)") {
    // 3 planted pairs of nearly-identical vectors in a sea of scattered ones
    val base = Seq(
      Seq.tabulate(16)(j => math.sin(j * 1.0).toFloat),
      Seq.tabulate(16)(j => math.cos(j * 0.7).toFloat),
      Seq.tabulate(16)(j => math.sin(j * 2.3 + 1).toFloat))
    val planted = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i * 2L) -> v, (i * 2 + 1L) -> v.zipWithIndex.map { case (x, j) => x + (if (j == 0) 0.01f else 0f) })
    }
    val noise = (100 until 160).map { i =>
      val rnd = new scala.util.Random(i) // deterministic per-vector scatter
      i.toLong -> Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    }
    val v = vecs((planted ++ noise): _*)
    val exact = Knn.cosineNearDup(v, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact === Set((0L, 1L), (2L, 3L), (4L, 5L)))
    val lsh = Knn.cosineNearDupLsh(v, "vec_id", "embedding",
      threshold = 0.95, bands = 4, bitsPerBand = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === exact) // full recall at the strong threshold
    // and the bucketed join really prunes: candidate pairs << all pairs
    val keys = Knn.lshBandKeys(v, "vec_id", "embedding", bands = 4, bitsPerBand = 6)
    val cand = keys.as("a").join(keys.as("b"),
      $"a.band" === $"b.band" && $"a.key" === $"b.key" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id").distinct().count()
    val allPairs = 66L * 65 / 2
    assert(cand < allPairs / 5, s"candidates $cand of $allPairs")
  }

  test("ivfKnn recalls most exact neighbors while probing a corpus fraction") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    val brute = Knn.bruteForce(emb, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Knn.ivfKnn(emb, q, "vec_id", "embedding",
      k = 5, nCells = 16, iters = 2, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.size === brute.size) // k results per query either way
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
    // scored cosines are exact — any returned pair matches brute force's score
    val bruteScores = Knn.bruteForce(emb, q, "vec_id", "embedding", k = 499)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)]
      .collect().map { case (a, b, c) => (a, b) -> c }.toMap
    Knn.ivfKnn(emb, q, "vec_id", "embedding", k = 5, nCells = 16, iters = 2, nProbe = 6)
      .select("query_id", "neighbor_id", "cosine").as[(Long, Long, Double)]
      .collect().foreach { case (a, b, c) => assert(bruteScores((a, b)) === c) }

    // the true 100 TB shape: quantizer trained on a sample ≪ corpus (64 of
    // 500 vectors) must still hold recall — sampling biases the centroids,
    // not the exact scoring inside probed cells
    val sampled = Knn.ivfKnn(emb, q, "vec_id", "embedding",
      k = 5, nCells = 16, iters = 2, nProbe = 6, sampleN = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(sampled.size === brute.size)
    val sampledRecall = (sampled & brute).size.toDouble / brute.size
    assert(sampledRecall >= 0.8, s"sample-trained recall $sampledRecall")
  }

  test("pqCodes assigns planted subspace clusters to their own codes") {
    // dim 4, m=2 → two 2-dim subspaces; in each, points sit at (0,0) or
    // (10,10). Seeds are ids 0,1, so sub0 code0=(0,0)-ish, sub1 code0=(10,10)-ish
    val v = vecs(
      0L -> Seq(0f, 0f, 10f, 10f),
      1L -> Seq(10f, 10f, 0f, 0f),
      2L -> Seq(0.1f, 0f, 10.1f, 10f),
      3L -> Seq(9.9f, 10f, 0.1f, 0f))
    val r = Knn.pqCodes(v, "vec_id", "embedding", m = 2, k = 2, iters = 2)
      .as[(Long, Seq[Int], Double)].collect().map(t => t._1 -> t).toMap
    assert(r(0L)._2 === Seq(0, 0) && r(2L)._2 === Seq(0, 0))
    assert(r(1L)._2 === Seq(1, 1) && r(3L)._2 === Seq(1, 1))
    // centroids are cluster means → residual ≤ (half the 0.1 gap)² per axis
    assert(r.values.forall(_._3 < 0.02), s"recon err too high: $r")
  }

  test("pqCodesInt assigns planted subspace clusters and packs codes base-k") {
    // same planted layout as the float pin: dim 4, m=2, k=2 — codes pack
    // base-2 with subspace 0 most significant, recon in exact 1e-12 units
    val v = vecs(
      0L -> Seq(0f, 0f, 10f, 10f),
      1L -> Seq(10f, 10f, 0f, 0f),
      2L -> Seq(0.1f, 0f, 10.1f, 10f),
      3L -> Seq(9.9f, 10f, 0.1f, 0f))
    val r = Knn.pqCodesInt(v, "vec_id", "embedding", m = 2, k = 2, iters = 2, sampleN = 4)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(0L)._2 === 0L && r(2L)._2 === 0L)   // codes (0,0) → 0·2+0
    assert(r(1L)._2 === 3L && r(3L)._2 === 3L)   // codes (1,1) → 1·2+1
    // centroids are exact floor-means of the ±0.05-jittered clusters, so
    // recon d² ≤ 2·(0.05·10⁶)² = 5e9 per subspace in 1e-12 units
    assert(r.values.forall(_._3 <= 2L * 5000000000L), s"recon too high: $r")
  }

  test("pq reconstruction error shrinks as the codebook grows (fixture)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def avgErr(k: Int): Double =
      Knn.pqCodes(emb, "vec_id", "embedding", m = 4, k = k, iters = 2, sampleN = 64)
        .agg(org.apache.spark.sql.functions.avg("recon_err")).as[Double].head()
    val (e1, e16) = (avgErr(1), avgErr(16))
    info(s"avg recon err: k=1 $e1, k=16 $e16")
    // the fixture embeddings are near-uniform (no planted cluster
    // structure), so 16 codes over a random 16-dim subspace only shave
    // ~15% off the mean-centroid baseline — the planted test above pins
    // real clustering; this pins the direction at fixture scale
    assert(e16 < e1 * 0.95, s"16-code books should beat the 1-code baseline: $e16 vs $e1")
    // codes are a pure function of the corpus: two runs byte-identical
    val a = Knn.pqCodes(emb, "vec_id", "embedding", m = 4, k = 16, iters = 2, sampleN = 64)
      .as[(Long, Seq[Int], Double)].collect().toSeq
    val b = Knn.pqCodes(emb, "vec_id", "embedding", m = 4, k = 16, iters = 2, sampleN = 64)
      .as[(Long, Seq[Int], Double)].collect().toSeq
    assert(a === b)
  }

  test("pqKnn retrieves the planted cluster through codes alone") {
    // corpus clusters at (0,0,10,10)-ish and (10,10,0,0)-ish; the query
    // sits in the first cluster, so codes-only ADC must rank ids 0/2 first
    val v = vecs(
      0L -> Seq(0f, 0f, 10f, 10f),
      1L -> Seq(10f, 10f, 0f, 0f),
      2L -> Seq(0.1f, 0f, 10.1f, 10f),
      3L -> Seq(9.9f, 10f, 0.1f, 0f))
    val q = vecs(9L -> Seq(0.05f, 0f, 10.05f, 10f))
    val r = Knn.pqKnn(v, q, "vec_id", "embedding", k = 2, m = 2, nCodes = 2, iters = 2)
      .select("rank", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(Set(r(1L), r(2L)) === Set(0L, 2L), s"wrong cluster retrieved: $r")
  }

  test("pqKnn recall vs exact L2 holds on the fixture") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 10
    def approxFor(m: Int, rerank: Int) =
      Knn.pqKnn(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
        k = k, m = m, nCodes = 16, iters = 2, sampleN = 128, rerank = rerank)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // codes-only (the ADC lower bound) at the entry's m, and the entry's
    // full prune + exact-re-rank pipeline
    val adcOnly = approxFor(ExtQueries.PqM, 0)
    val reranked = approxFor(ExtQueries.PqM, ExtQueries.PqRerank)
    // exact L2 top-k, computed independently on the driver (500×64 floats)
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + math.pow(a(i) - b(i), 2))
    val exact = all.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).sortBy(t => (l2(qv, t._2), t._1)).take(k).map(_._1).toSet
    }.toMap
    def recallOf(a: Map[Long, Set[Long]]) =
      exact.map { case (qid, ex) => a(qid).intersect(ex).size.toDouble / k }.sum / exact.size
    val (rAdc, rFull) = (recallOf(adcOnly), recallOf(reranked))
    info(s"pq recall@$k: adc-only $rAdc, reranked(${ExtQueries.PqRerank}) $rFull")
    // the fixture is uniform random — PQ's worst case (64 bits of codes
    // carry little signal when there's no cluster structure). Codes-only
    // must still beat chance (10/499 ≈ 0.02) by an order of magnitude; the
    // production prune+re-rank pipeline must make the floor a real one
    assert(rAdc >= 0.15, s"ADC-only recall $rAdc below floor")
    assert(rFull >= 0.55, s"re-ranked recall $rFull below floor")
    assert(rFull > rAdc, "exact re-rank must improve on codes-only ranking")
  }

  test("ivfPqKnn recall vs exact L2 holds under the registered entry's contract") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val k = 10
    val approx = Knn.ivfPqKnn(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
      k = k, nCells = ExtQueries.IvfCells, cellIters = ExtQueries.IvfIters,
      nProbe = ExtQueries.IvfProbe, m = ExtQueries.PqM, nCodes = ExtQueries.PqK,
      pqIters = ExtQueries.PqIters, sampleN = ExtQueries.PqSampleN,
      rerank = ExtQueries.PqRerank)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val all = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + math.pow(a(i) - b(i), 2))
    val exact = all.filter(_._1 < 10).map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid).sortBy(t => (l2(qv, t._2), t._1)).take(k).map(_._1).toSet
    }.toMap
    val recall = exact.map { case (qid, ex) => approx(qid).intersect(ex).size.toDouble / k }
      .sum / exact.size
    info(s"ivf-pq recall@$k = $recall")
    // beats flat PQ (0.65 above) despite probing 6/16 cells: residuals
    // have far less variance than absolute positions, so the same
    // codebook budget quantizes them more finely — the reason IVF-PQ
    // codes residuals at all
    assert(recall >= 0.5, s"IVF-PQ recall $recall below floor")
  }

  test("lshBandKeys handles non-64 embedding dimensions") {
    // dim 16 above; also a dim-3 sanity: colinear vectors share every key
    val v = vecs(1L -> Seq(1f, 2f, 3f), 2L -> Seq(2f, 4f, 6f))
    val keys = Knn.lshBandKeys(v, "vec_id", "embedding", bands = 3, bitsPerBand = 4)
      .as[(Long, Int, Long)].collect()
    assert(keys.length === 6) // 2 vectors × 3 bands
    val byBand = keys.groupBy(_._2).values
    byBand.foreach { rows => assert(rows.map(_._3).distinct.length === 1) }
  }

  test("CentroidAgg computes the element-wise mean (map-side partial merge)") {
    import org.apache.spark.sql.functions.{col, udaf}
    val centroid = udaf(Multimodal.CentroidAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    val df = Seq(
      ("a", Array(1f, 2f)), ("a", Array(3f, 4f)),
      ("b", Array(10f, 20f))).toDF("label", "embedding").repartition(3)
    val r = df.groupBy("label").agg(centroid(col("embedding")).as("c"))
      .as[(String, Array[Double])].collect().toMap
    assert(r("a").toSeq === Seq(2.0, 3.0))
    assert(r("b").toSeq === Seq(10.0, 20.0))
  }

  test("decodeMeta produces deterministic stub metadata from payload bytes") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text") // 4 utf-8 bytes
    val m = Multimodal.decodeMeta(docs)(spark).collect().head
    assert(m === Multimodal.MediaMeta(1L, 4L, 16 + 4 % 64, 16 + (4 * 7) % 64, 1))
  }

  /** Encode a w×h image to `fmt` bytes with the JDK's own writer. */
  private def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff8800) // non-uniform content, not that it matters
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK writer for $fmt")
    out.toByteArray
  }

  /** A deterministic gradient image with a per-seed brightness ripple —
    * structured content, so dHash has real signal to fingerprint. */
  private def gradientImage(w: Int, h: Int, seed: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 255 / w + (if (((x * 7 + y * 13 + seed) % 11) == 0) 40 else 0)) min 255
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK writer for $fmt")
    out.toByteArray
  }

  test("dHash60: re-encoded/resized copies land near, different images far; fallback is the simhash") {
    val a = gradientImage(64, 48, seed = 0, "png")
    val aBmp = gradientImage(64, 48, seed = 0, "bmp")   // same pixels, other container
    val aBig = gradientImage(128, 96, seed = 0, "png")  // same content, 2x resolution
    val other = { // reversed gradient — structurally different content
      val img = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = 255 - x * 255 / 64
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out); out.toByteArray
    }
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val (ha, hab, habig, hother) =
      (Multimodal.dHash60(a).get, Multimodal.dHash60(aBmp).get,
        Multimodal.dHash60(aBig).get, Multimodal.dHash60(other).get)
    assert(ham(ha, hab) <= 5, s"container re-encode moved the hash: ${ham(ha, hab)}")
    assert(ham(ha, habig) <= 5, s"2x resize moved the hash: ${ham(ha, habig)}")
    assert(ham(ha, hother) > 20, s"different content too close: ${ham(ha, hother)}")
    // non-image payloads: deterministic simhash, near-dup texts land near
    val t1 = ("the quick brown fox jumps over the lazy dog " * 4).getBytes("UTF-8")
    val t2 = ("the quick brown fox jumps over the lazy cat " * 4).getBytes("UTF-8")
    val t3 = ("completely unrelated content about spark plans " * 4).getBytes("UTF-8")
    assert(Multimodal.dHash60(t1).isEmpty)
    val (f1, f2, f3) = (Multimodal.fallbackHash60(t1),
      Multimodal.fallbackHash60(t2), Multimodal.fallbackHash60(t3))
    assert(f1 === Multimodal.fallbackHash60(t1)) // deterministic
    assert(ham(f1, f2) < ham(f1, f3), "simhash lost locality")
    assert(Multimodal.fallbackHash60("abc".getBytes("UTF-8")) === 0L) // < 4 code points
  }

  test("phashPairs: banded hamming join finds image near-dups and nothing else") {
    val rows = Seq(
      1L -> gradientImage(64, 48, 0, "png"),
      2L -> gradientImage(128, 96, 0, "png"), // near-dup of 1 (resized)
      3L -> (("shared filler text about the corpus pipeline " * 12) + "tail one")
        .getBytes("UTF-8"),
      4L -> (("shared filler text about the corpus pipeline " * 12) + "tail two")
        .getBytes("UTF-8"))
    val hashes = Multimodal.imageHashes(
      rows.toDF("doc_id", "media"))(spark)
    val pairs = Multimodal.phashPairs(hashes)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "resized image pair missed")
    assert(pairs.contains((3L, 4L)), "near-dup text payload pair missed")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L) || Set(p._1, p._2) == Set(2L, 4L)),
      "image paired with text payload")
  }

  test("multimodal dedup tier: phash pairs close into clusters; keep/weight verdicts reconcile") {
    import spark.implicits._
    val rows = Seq(
      1L -> gradientImage(64, 48, 0, "png"),
      2L -> gradientImage(128, 96, 0, "png"), // near-dup of 1 (resized)
      3L -> (("shared filler text about the corpus pipeline " * 12) + "tail one")
        .getBytes("UTF-8"),
      4L -> (("shared filler text about the corpus pipeline " * 12) + "tail two")
        .getBytes("UTF-8"),
      5L -> ("completely unrelated content about spark plans " * 12)
        .getBytes("UTF-8")) // singleton
    val pairs = Multimodal.phashPairs(
      Multimodal.imageHashes(rows.toDF("doc_id", "media"))(spark))
      .select("doc_a", "doc_b")
    val labels = graft.operators.Dedup.duplicateClusters(pairs)
    val got = graft.operators.Dedup.softWeights(
      rows.map(_._1).toDF("doc_id"), "doc_id", labels)
      .withColumn("keep", $"doc_id" === $"cluster_id")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 2L, 500000L, true), (2L, 1L, 2L, 500000L, false),
      (3L, 3L, 2L, 500000L, true), (4L, 3L, 2L, 500000L, false),
      (5L, 5L, 1L, 1000000L, true)))
    // the dropped mass reconciles with the pair graph: one non-survivor
    // per extra copy in each cluster
    assert(got.count(!_._5) === 2)
  }

  /** A planted semantic-duplicate pair: the flat field varies per GRID
    * CELL (so it survives area averaging and its small diffs flip sign
    * between variants), the bottom grid row carries a strong stable
    * pattern (so one band stays intact and the cosine stays ≈ 1). A
    * rescaled `variant`-shifted copy lands at Hamming ≫ 5 — escaping the
    * lossless band tier — while keeping a near-parallel feature. */
  private def semImage(w: Int, h: Int, variant: Int, pattern: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val gx = x * 11 / w; val gy = y * 6 / h
      val v =
        if (gy == 5) { if (((gx + pattern) % 2) == 0) 230 else 20 }
        else 128 + ((gx * 31 + gy * 37 + variant * 41) % 9) - 4
      im.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, "png", out))
    out.toByteArray
  }

  test("imageFeatures: the phash IS the feature's sign fold and __n2 its exact squared norm — one decode, both tiers") {
    val rows = Seq(
      1L -> semImage(64, 48, 0, 0),
      2L -> ("opaque payload text standing in for media " * 3).getBytes("UTF-8"),
      3L -> "abc".getBytes("UTF-8")) // degenerate: < 4 code points
    val feats = Multimodal.imageFeatures(rows.toDF("doc_id", "media"))(spark)
      .as[(Long, Long, Array[Long], Long)].collect().sortBy(_._1).toSeq
    for ((id, phash, feat, n2) <- feats) {
      assert(feat.length === 60)
      assert(phash === Multimodal.signFold60(feat.map(_.toInt)), s"doc $id")
      assert(n2 === feat.map(f => f * f).sum, s"doc $id")
    }
    // the hash projection is EXACTLY the hash-only tier (shared decode)
    assert(feats.map(f => (f._1, f._2)) ===
      rows.map { case (id, p) =>
        (id, Multimodal.dHash60(p).getOrElse(Multimodal.fallbackHash60(p))) })
    assert(feats(2)._4 === 0L) // degenerate payload: zero vector, zero norm
  }

  test("semPairs: a rescaled+shifted duplicate that ESCAPES the hamming tier is caught by cosine; different content is not") {
    import org.apache.spark.sql.functions.col
    val a = semImage(64, 48, 0, 0)
    val b = semImage(80, 60, 7, 0) // rescaled, cell-noise shifted: same content
    val c = semImage(64, 48, 3, 1) // inverted strong pattern: different content
    // the planted pair genuinely escapes the lossless hamming tier...
    val ham = java.lang.Long.bitCount(
      Multimodal.dHash60(a).get ^ Multimodal.dHash60(b).get)
    assert(ham > 5, s"planted pair must escape the hamming tier, got $ham")
    val rows = Seq(1L -> a, 2L -> b, 3L -> c,
      // fallback payloads ride the same tier: near-dup texts pair...
      4L -> ("the quick brown fox jumps over the lazy dog " * 6 + "tail one").getBytes("UTF-8"),
      5L -> ("the quick brown fox jumps over the lazy dog " * 6 + "tail two").getBytes("UTF-8"),
      // ...unrelated text does not
      6L -> ("completely different content about catalyst plans " * 6).getBytes("UTF-8"))
    val feats = Multimodal.imageFeatures(rows.toDF("doc_id", "media"))(spark)
      .localCheckpoint(true)
    val hamPairs = Multimodal.phashPairs(
      feats.select(col("doc_id"), col("phash")))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!hamPairs.contains((1L, 2L)), "the planted pair must NOT be a hamming pair")
    val sem = Multimodal.semPairs(feats)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(sem.contains((1L, 2L)), s"semantic tier missed the planted pair: $sem")
    assert(sem((1L, 2L)) >= 0.99)
    assert(sem.contains((4L, 5L)), "near-dup fallback payloads must pair")
    assert(!sem.keySet.exists(p => Set(p._1, p._2).contains(3L)),
      "different image content must not pair")
    assert(!sem.keySet.exists(p => Set(p._1, p._2).contains(6L)),
      "unrelated text must not pair")
    // the decision tier over the semantic pairs: {1,2} one cluster with
    // min-id keep, everything else singleton
    val report = Multimodal.softDedup(
      rows.map(_._1).toDF("doc_id"),
      Multimodal.semPairs(feats).select("doc_a", "doc_b"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(report.filter(r => r._1 <= 2L).map(r => (r._1, r._2, r._3, r._5)) ===
      Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false)))
    assert(report.filter(_._1 === 3L).head._5 === true)
  }

  test("image payloads decode their REAL dimensions via javax.imageio; others fall back to the stub") {
    // real container headers, three formats, deliberately non-square
    assert(Multimodal.decode(1L, imageBytes(7, 5, "png"))
      .copy(nBytes = 0) === Multimodal.MediaMeta(1L, 0, 7, 5, 1))
    assert(Multimodal.decode(2L, imageBytes(33, 9, "bmp"))
      .copy(nBytes = 0) === Multimodal.MediaMeta(2L, 0, 33, 9, 1))
    assert(Multimodal.decode(3L, imageBytes(4, 11, "gif"))
      .copy(nBytes = 0) === Multimodal.MediaMeta(3L, 0, 4, 11, 1))
    // nBytes is still the payload's true size
    val png = imageBytes(7, 5, "png")
    assert(Multimodal.decode(1L, png).nBytes === png.length.toLong)
    // non-image bytes: the deterministic stub, unchanged
    val txt = "abcd".getBytes("UTF-8")
    assert(Multimodal.decode(9L, txt) === Multimodal.fakeDecode(9L, txt))
    // a truncated header must not throw — stub fallback
    assert(Multimodal.decode(4L, png.take(9)) === Multimodal.fakeDecode(4L, png.take(9)))
  }

  /** Encode `frames` of silence at `rate` Hz, `ch` channels to WAV bytes
    * with the JDK's own writer. */
  private def wavBytes(rate: Float, ch: Int, frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, ch, true, false)
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("WAV payloads parse REAL audio metadata via the JDK; non-audio returns None") {
    val wav = wavBytes(rate = 8000f, ch = 2, frames = 4000) // 500 ms stereo
    val m = Multimodal.audioDecode(1L, wav)
    assert(m.isDefined)
    assert(m.get.sampleRate === 8000 && m.get.channels === 2)
    assert(m.get.nFrames === 4000L && m.get.durationMs === 500L)
    assert(m.get.nBytes === wav.length.toLong)
    // text bytes and image bytes are not audio
    assert(Multimodal.audioDecode(2L, "abcdefghijkl".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioDecode(3L, imageBytes(7, 5, "png")).isEmpty)
    // a truncated RIFF header must not throw
    assert(Multimodal.audioDecode(4L, wav.take(16)).isEmpty)
  }

  test("MP3 frame headers parse real sample rate/channels/duration; junk returns None") {
    // MPEG1 Layer III, 44100 Hz, 128 kbps, stereo, no padding:
    // frameSize = 1152/8 * 128000 / 44100 = 417 bytes
    val hdr = Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte)
    val mp3 = hdr ++ new Array[Byte](417 * 10 - 4) // 10 CBR frames
    val m = Multimodal.audioDecode(1L, mp3)
    assert(m.isDefined)
    assert(m.get.sampleRate === 44100 && m.get.channels === 2)
    assert(m.get.nFrames === 10L * 1152L)
    assert(m.get.durationMs === 10L * 1152L * 1000L / 44100L) // 261 ms
    assert(m.get.nBytes === mp3.length.toLong)
    // a leading ID3v2 tag (syncsafe size 100) is skipped
    val id3 = Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 0, 100) ++
      new Array[Byte](100) ++ mp3
    val mt = Multimodal.audioDecode(2L, id3)
    assert(mt.isDefined && mt.get.sampleRate === 44100)
    // mono MPEG2 (22050 Hz): version bits 10, channel mode 11
    val hdr2 = Array(0xFF, 0xF3, 0x90, 0xC0).map(_.toByte)
    val m2 = Multimodal.audioDecode(3L, hdr2 ++ new Array[Byte](2000))
    assert(m2.isDefined && m2.get.sampleRate === 22050 && m2.get.channels === 1)
    // junk: reserved version, bad bitrate, bad sync, truncation
    assert(Multimodal.audioDecode(4L, Array(0xFF, 0xEB, 0x90, 0x00).map(_.toByte)).isEmpty)
    assert(Multimodal.audioDecode(5L, Array(0xFF, 0xFB, 0xF0, 0x00).map(_.toByte)).isEmpty)
    assert(Multimodal.audioDecode(6L, "plain text bytes".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioDecode(7L, hdr.take(3)).isEmpty)
    // ID3 tag whose declared size exceeds the payload must not throw
    assert(Multimodal.audioDecode(8L,
      Array[Byte]('I', 'D', '3', 4, 0, 0, 0, 0, 7, 0) ++ new Array[Byte](4)).isEmpty)
  }

  /** Minimal ISO-BMFF: 16-byte ftyp + moov containing a version-0 mvhd. */
  private def mp4Bytes(timescale: Int, duration: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + 8 + 108)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII")).put("isom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(8 + 108).put("moov".getBytes("US-ASCII"))
    bb.putInt(108).put("mvhd".getBytes("US-ASCII"))
    bb.putInt(0) // version 0 + flags
    bb.putInt(0).putInt(0) // creation, modification
    bb.putInt(timescale).putInt(duration)
    while (bb.hasRemaining) bb.put(0.toByte) // rate/volume/matrix/next-track
    bb.array()
  }

  test("MP4 mvhd parses real timescale/duration; malformed boxes return None") {
    val mp4 = mp4Bytes(timescale = 600, duration = 3000)
    val v = Multimodal.mp4Decode(1L, mp4)
    assert(v.isDefined)
    assert(v.get.timescale === 600L && v.get.duration === 3000L)
    assert(v.get.durationMs === 5000L)
    assert(v.get.nBytes === mp4.length.toLong)
    // not a box stream / truncated moov / zero timescale: None, no throw
    assert(Multimodal.mp4Decode(2L, "plain text bytes".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.mp4Decode(3L, mp4.take(40)).isEmpty)
    assert(Multimodal.mp4Decode(4L, mp4Bytes(timescale = 0, duration = 10)).isEmpty)
    assert(Multimodal.mp4Decode(5L, Array.empty[Byte]).isEmpty)
  }

  /** A complete box with payload (size+fourcc header prepended). */
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(tpe.getBytes("US-ASCII")).put(payload)
    bb.array()
  }

  /** version-0 tkhd: id + 16.16 display size at the spec'd offsets. */
  private def tkhdV0(trackId: Int, width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(84)
    bb.putInt(0) // version 0 + flags
    bb.putInt(0).putInt(0) // creation, modification
    bb.putInt(trackId)
    bb.position(76) // reserved/duration/layer/volume/matrix
    bb.putInt(width << 16).putInt(height << 16)
    bb.array()
  }

  private def hdlr(handler: String): Array[Byte] =
    java.nio.ByteBuffer.allocate(12).putInt(0).putInt(0)
      .put(handler.getBytes("US-ASCII")).array()

  private def stsd(codec: String): Array[Byte] = {
    val entry = box(codec, new Array[Byte](8)) // sample entry: any payload
    java.nio.ByteBuffer.allocate(8 + entry.length)
      .putInt(0).putInt(1).put(entry).array()
  }

  test("mp4Tracks walks trak/tkhd + hdlr + stsd: ids, handlers, codecs, display size") {
    val videoTrak = box("trak",
      box("tkhd", tkhdV0(1, 640, 360)) ++
        box("mdia", box("hdlr", hdlr("vide")) ++
          box("minf", box("stbl", box("stsd", stsd("avc1"))))))
    val audioTrak = box("trak",
      box("tkhd", tkhdV0(2, 0, 0)) ++
        box("mdia", box("hdlr", hdlr("soun")) ++
          box("minf", box("stbl", box("stsd", stsd("mp4a"))))))
    val ftyp = java.nio.ByteBuffer.allocate(16).putInt(16)
      .put("ftyp".getBytes("US-ASCII")).put("isom".getBytes("US-ASCII"))
      .putInt(0).array()
    val mp4 = ftyp ++ box("moov", videoTrak ++ audioTrak)

    val tracks = Multimodal.mp4Tracks(7L, mp4)
    assert(tracks.map(t => (t.trackId, t.handler, t.codec, t.width, t.height)) ===
      Seq((1L, "vide", "avc1", 640L, 360L), (2L, "soun", "mp4a", 0L, 0L)))
    assert(tracks.forall(_.docId == 7L))
    // the mvhd-only fixture has no trak; junk bytes parse to nothing
    assert(Multimodal.mp4Tracks(8L, mp4Bytes(600, 3000)).isEmpty)
    assert(Multimodal.mp4Tracks(9L, "not a container".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.mp4Tracks(10L, Array.empty[Byte]).isEmpty)
    // and the movie-header walk still reads the same stream (regression)
    assert(Multimodal.mp4Decode(11L, mp4Bytes(600, 3000)).isDefined)
  }

  test("decodeMeta decodes a real media column end-to-end (frame brings its own bytes)") {
    val rows = Seq((1L, imageBytes(20, 30, "png")), (2L, "not an image".getBytes("UTF-8")))
    val docs = rows.toDF("doc_id", "media")
    val metas = Multimodal.decodeMeta(docs)(spark).collect().sortBy(_.docId)
    assert(metas(0).width === 20 && metas(0).height === 30 && metas(0).nFrames === 1)
    assert(metas(1) === Multimodal.fakeDecode(2L, rows(1)._2))
  }

  test("frameSample explodes every stride-th frame index per doc") {
    val docs = Seq((2L, "x" * 450)).toDF("doc_id", "text") // 450 bytes → 5 frames
    val rows = Multimodal.frameSample(docs, stride = 3)
      .select("frame_idx", "frame_hash").as[(Long, Long)].collect().sorted
    assert(rows.map(_._1).toSeq === Seq(0L, 3L))
    assert(rows.map(_._2).toSeq === Seq((2 * 31 + 0) % 997L, (2 * 31 + 21) % 997L))
  }

  test("featureVector emits a fixed-dim deterministic vector per doc") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text") // 4 bytes
    val v = Multimodal.featureVector(docs, d = 3)
      .select("features").as[Array[Float]].collect().head
    // (4*13 + i*17) % 101 / 100 for i = 0,1,2
    assert(v.toSeq === Seq(52 / 100f, 69 / 100f, 86 / 100f))
  }

  test("ANN recall holds at bench scale (sf0.1), not just the small fixture") {
    // the agg_approx_distinct lesson: a contract checked only at sf0.001
    // can silently fail at 10x the cardinality — pin the recall there too.
    // The registered entries now emit Knn.recallAudit grids, so the grid's
    // own ok flags ARE the per-entry recall gate (total floors 16/32/24/20
    // of 50); the raw-list pins below re-derive the lists via the public
    // operators at the entries' exact parameterization.
    val dir = "/root/testdata/sf0.1"
    val emb = Tables.embeddings(spark, dir)
    for (q <- Seq("ext_sim_knn_lsh", "ext_sim_knn_ivf",
        "ext_sim_knn_pq", "ext_sim_knn_ivfpq")) {
      val grid = SparkEntry.queries(q)(spark, dir).collect()
      assert(grid.length === 11, s"$q audit grid shape") // 10 queries + total
      val bad = grid.filter(r => !r.getBoolean(r.fieldIndex("ok")))
      assert(bad.isEmpty, s"$q audit rows below floor at sf0.1: " +
        bad.map(_.getLong(0)).mkString(","))
    }
    val brute = Knn.bruteForce(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Knn.ivfKnn(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
      k = ExtQueries.IvfK, nCells = ExtQueries.IvfCells, iters = ExtQueries.IvfIters,
      nProbe = ExtQueries.IvfProbe, sampleN = ExtQueries.IvfSampleN)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    info(s"sf0.1 ivf recall = $ivfRecall")
    assert(ivfRecall >= 0.8, s"sf0.1 ivf recall $ivfRecall below floor (0.96 when pinned)")
    val lsh = Knn.lshKnn(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
      k = 5, bands = 16, bitsPerBand = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshRecall = (lsh & brute).size.toDouble / brute.size
    info(s"sf0.1 lsh recall = $lshRecall")
    // weak-similarity fixture (true neighbors ≈ cosine 0.4): 16×6-bit
    // banding measures 0.60 — the single-table form this replaced sat at
    // 0.06. IVF is the stronger path on such corpora; this floor guards
    // the banded form against regressing back to bucket-starved recall.
    assert(lshRecall >= 0.5, s"sf0.1 lsh recall $lshRecall below floor (0.60 when pinned)")
  }

  test("semanticDedup groups a PLANTED duplicate set at bench scale (sf0.1)") {
    // colinear copies of a real sf0.1 vector, ids beyond the corpus: they
    // must land in the original's group (transitive colinear merge), with
    // the original's min-id representative and kept=false for every copy
    val dir = "/root/testdata/sf0.1"
    import org.apache.spark.sql.functions.{lit, transform}
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val seed = emb.filter($"vec_id" === 0L)
    val planted = Seq(1000001L, 1000002L, 1000003L).map { id =>
      seed.select(lit(id).as("vec_id"),
        transform($"embedding", x => x * 2.0f).as("embedding"))
    }.reduce(_ unionByName _)
    val r = Knn.semanticDedup(emb.unionByName(planted), "vec_id", "embedding",
      threshold = 0.95, nCells = 8, iters = 2)
      .select("vec_id", "rep_id", "kept").as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val repOf0 = r(0L)._1
    for (id <- Seq(1000001L, 1000002L, 1000003L)) {
      assert(r(id)._1 === repOf0, s"planted $id split from its duplicate group")
      assert(!r(id)._2, s"planted $id kept despite a lower-id duplicate")
    }
  }

  test("the registered ext_sim_knn_ivf entry holds the recall floor vs exact knn") {
    // the ivf path at the ENTRY's exact parameterization (IvfK/Cells/
    // Iters/Probe/SampleN) — byte-stability alone says nothing about
    // quality, so the contract is an explicit recall floor on the fixture;
    // the registered entry's audit grid must agree (all ok) there too
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val got = Knn.ivfKnn(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
      k = ExtQueries.IvfK, nCells = ExtQueries.IvfCells, iters = ExtQueries.IvfIters,
      nProbe = ExtQueries.IvfProbe, sampleN = ExtQueries.IvfSampleN)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = Knn.bruteForce(emb, emb.filter($"vec_id" < 10), "vec_id", "embedding",
      k = graft.queries.ExtQueries.IvfK)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.size === brute.size) // k rows per query either way
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"entry recall $recall below floor")
    val grid = SparkEntry.queries("ext_sim_knn_ivf")(spark, dir).collect()
    assert(grid.forall(r => r.getBoolean(r.fieldIndex("ok"))),
      "ivf audit grid below floor at sf0.001")
  }

  test("ivfCellsInt is partitioning-invariant and groups identical vectors") {
    // the oracle-gated integer Lloyd twin: bit-reproducible on ANY
    // partitioning (exact integer sums + floor-mean + id tie-breaks), and
    // a planted byte-identical copy must land in its original's cell
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions.lit
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val planted = emb.filter($"vec_id" === 0L)
      .select(lit(1000001L).as("vec_id"), $"embedding")
    val base = emb.unionByName(planted)
    val a = Knn.ivfCellsInt(base, "vec_id", "embedding",
      nCells = 16, iters = 2, sampleN = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Knn.ivfCellsInt(base.repartition(7), "vec_id", "embedding",
      nCells = 16, iters = 2, sampleN = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "cell table depends on partitioning")
    assert(a(1000001L) === a(0L), "identical vector split from its twin's cell")
    assert(a.values.toSet.size > 1, "Lloyd collapsed to a single cell")
  }

  test("semanticDedup groups planted colinear duplicates and keeps min-id reps") {
    // two orthogonal duplicate groups + a singleton (cross-group cosine 0);
    // the two lowest ids seed the two cells, one per group — ids chosen so
    // Lloyd separates the groups instead of splitting one across cells
    val v = vecs(
      1L -> Seq(1f, 0f, 0f, 0f), 3L -> Seq(2f, 0f, 0f, 0f), 5L -> Seq(3f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f), 4L -> Seq(0f, 3f, 0f, 0f),
      20L -> Seq(0f, 0f, 1f, 0f))
    val r = Knn.semanticDedup(v, "vec_id", "embedding",
      threshold = 0.95, nCells = 2, iters = 2)
      .select("vec_id", "rep_id", "kept").as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L) === ((1L, true)) && r(3L) === ((1L, false)) && r(5L) === ((1L, false)))
    assert(r(2L) === ((2L, true)) && r(4L) === ((2L, false)))
    assert(r(20L) === ((20L, true)))
  }

  test("semanticDedup closes groups transitively (chain below pairwise threshold)") {
    // angles 0° / 15° / 30°: adjacent cosines ≈ 0.966 ≥ t = 0.95, but the
    // endpoints' cosine ≈ 0.866 < t — only transitivity links them
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val v = vecs(1L -> at(0), 2L -> at(15), 3L -> at(30))
    val r = Knn.semanticDedup(v, "vec_id", "embedding",
      threshold = 0.95, nCells = 1, iters = 1)
      .select("vec_id", "rep_id").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("centroidOutliers flags the planted far vector and only it") {
    // an exact-duplicate cluster on x (dist2 = 0 for every member) + a y
    // cluster with one far-out junk vector; the two lowest ids seed the two
    // cells (one per direction) so Lloyd separates them. All margins are
    // exact-arithmetic-clean: cell means 0 and 468.75, junk dist2 1406.25
    // vs threshold 937.5.
    val v = vecs(
      1L -> Seq(10f, 0f), 3L -> Seq(10f, 0f), 4L -> Seq(10f, 0f),
      2L -> Seq(0f, 10f), 7L -> Seq(0f, 10f), 8L -> Seq(0f, 10f),
      9L -> Seq(0f, 60f)) // junk: same direction as cell 2, 6× out
    val r = Knn.centroidOutliers(v, "vec_id", "embedding",
      nCells = 2, iters = 2, factor = 2.0)
      .select("vec_id", "outlier").as[(Long, Boolean)].collect().toMap
    assert(r(9L), "planted junk vector not flagged")
    assert(r.filter(_._2).keySet === Set(9L), s"extra outliers: $r")
  }

  test("centroidOutliersInt flags the same planted junk with exact integer margins") {
    // same planted layout as the float pin; 120 pct of the y-cell's mean
    // d² sits well under the junk vector's d² in 1e-6-unit integers
    val v = vecs(
      1L -> Seq(10f, 0f), 3L -> Seq(10f, 0f), 4L -> Seq(10f, 0f),
      2L -> Seq(0f, 10f), 7L -> Seq(0f, 10f), 8L -> Seq(0f, 10f),
      9L -> Seq(0f, 60f))
    val r = Knn.centroidOutliersInt(v, "vec_id", "embedding",
      nCells = 2, iters = 2, factorPct = 200, sampleN = 7)
      .select("vec_id", "outlier").as[(Long, Boolean)].collect().toMap
    assert(r(9L), "planted junk vector not flagged")
    assert(r.filter(_._2).keySet === Set(9L), s"extra outliers: $r")
    // exact invariants: d² of every exact-duplicate x-cluster member is 0
    val d2 = Knn.centroidOutliersInt(v, "vec_id", "embedding",
      nCells = 2, iters = 2, factorPct = 200, sampleN = 7)
      .select("vec_id", "d2").as[(Long, Long)].collect().toMap
    assert(Seq(1L, 3L, 4L).forall(d2(_) === 0L))
  }

  test("the registered ext_sim_semdedup entry holds its structural contract") {
    val dir = "/root/testdata/sf0.001"
    val run = SparkEntry.queries("ext_sim_semdedup")(spark, dir)
      .select("vec_id", "cell", "rep_id", "kept")
      .as[(Long, Int, Long, Boolean)].collect()
    val n = Tables.embeddings(spark, dir).count()
    assert(run.length.toLong === n) // one row per corpus vector
    val byId = run.map(r => r._1 -> r).toMap
    run.foreach { case (id, cell, rep, kept) =>
      assert(rep <= id)                    // canonical min-id labels
      assert(kept === (rep == id))         // kept iff representative
      assert(byId(rep)._3 === rep)         // reps are closed (rep of rep = itself)
      assert(byId(rep)._2 === cell)        // groups never cross cells
    }
    assert(run.exists(!_._4), "fixture produced no duplicate groups — threshold has no signal")
    // determinism: the index + labels are a pure function of the corpus
    val again = SparkEntry.queries("ext_sim_semdedup")(spark, dir)
      .select("vec_id", "cell", "rep_id", "kept")
      .as[(Long, Int, Long, Boolean)].collect()
    assert(again.toSeq === run.toSeq)
  }

  test("dim stats replay the per-coordinate mean/variance on the raw floats") {
    val d = "/root/testdata/sf0.001"
    val raw = Tables.embeddings(spark, d).select("embedding")
      .as[Array[Float]].collect()
    val got = SparkEntry.queries("ext_embed_dim_stats")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length === raw.head.length)
    got.foreach { case (dim, n, nZero, mean, varp) =>
      val xs = raw.map(_(dim.toInt).toDouble)
      assert(n === xs.length.toLong)
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      // the 1e-4 grid snap moves each x by ≤ 5e-5; 4-dp rounding on top
      assert(math.abs(mean - m) <= 2e-4, s"dim $dim mean $mean vs $m")
      assert(math.abs(varp - v) <= 2e-4, s"dim $dim var $varp vs $v")
      assert(nZero === xs.count(x => math.abs(x) < 0.5e-4).toLong, s"dim $dim zeros")
    }
  }

  test("embedding split leakage = the neardup-lsh pair set filtered by recomputed split labels") {
    val d = "/root/testdata/sf0.01"
    val pairs = SparkEntry.queries("ext_sim_neardup_lsh")(spark, d)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def split(id: Long) = ((id * 2246822519L + 104729L) % 1000L) match {
      case b if b < 100 => "test"
      case b if b < 150 => "val"
      case _            => "train"
    }
    val got = SparkEntry.queries("ext_split_leakage_embed")(spark, d)
      .select("id_a", "id_b", "split_a", "split_b")
      .as[(Long, Long, String, String)].collect()
    assert(got.nonEmpty, "fixture produced no cross-split near-dup pair — audit is vacuous")
    got.foreach { case (a, b, sa, sb) =>
      assert(pairs.contains((a, b)), s"($a,$b) not a near-dup pair")
      assert(sa === split(a) && sb === split(b) && sa != sb, s"($a,$b) labels")
    }
    val expected = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(got.map(r => (r._1, r._2)).toSet === expected, "leak set must be the exact filter")
  }

  test("coresetKCenter walks the hand-traced farthest-point order on a planted geometry") {
    val v = vecs(
      0L -> Seq(1f, 0f),      // seed (min id)
      1L -> Seq(0.99f, 0.1f), // hugs the seed — must be picked LAST
      2L -> Seq(0f, 1f),      // orthogonal to the seed — farthest, picked 2nd
      3L -> Seq(0.7f, 0.7f))  // diagonal — picked 3rd
    val got = Knn.coresetKCenter(v, "vec_id", "embedding", k = 4)
      .select("step", "vec_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(got === Seq((1L, 0L), (2L, 2L), (3L, 3L), (4L, 1L)))
  }

  test("coresetKCenter replays the sequential greedy definition on a pseudo-random set") {
    val base = (0 until 30).map(i =>
      i.toLong -> Seq.tabulate(6)(j => (((i * 31 + j * 17) % 13) - 6).toFloat))
    val got = Knn.coresetKCenter(vecs(base: _*), "vec_id", "embedding", k = 6)
      .select("step", "vec_id").as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    // the greedy recurrence replayed sequentially with the same
    // left-to-right double fold as FloatDot
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    def dist(a: Seq[Float], b: Seq[Float]): Double =
      1.0 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val byId = base.toMap
    var sel = Vector(base.map(_._1).min)
    while (sel.size < 6) {
      val next = base.filterNot(p => sel.contains(p._1))
        .map { case (id, e) => (id, sel.map(s => dist(e, byId(s))).min) }
        .maxBy { case (id, d) => (d, -id) } // dist desc, id asc
        ._1
      sel :+= next
    }
    assert(got.toSeq === sel)
    // k capped at n: asking for more centers than vectors returns n rows
    val tiny = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    assert(Knn.coresetKCenter(tiny, "vec_id", "embedding", k = 5).count() === 2L)
  }

  test("silhouetteInt: tight planted clusters score high, a boundary point scores low") {
    // seeds are the two lowest ids — planted in DIFFERENT clusters so the
    // 2-cell Lloyd converges to the planted centers; id 8 sits halfway
    val v = vecs(
      0L -> Seq(0f, 0f), 2L -> Seq(0.1f, 0f), 3L -> Seq(0f, 0.1f), 4L -> Seq(0.1f, 0.1f),
      1L -> Seq(10f, 10f), 5L -> Seq(10.1f, 10f), 6L -> Seq(10f, 10.1f), 7L -> Seq(9.9f, 10f),
      8L -> Seq(5f, 5.2f))
    val r = Knn.silhouetteInt(v, "vec_id", "embedding",
      nCells = 2, iters = 2, sampleN = 9)
      .select("vec_id", "cell", "d2_own", "d2_next", "sil_milli", "n_cell", "cell_mean_sil_milli")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // the two planted clusters land in different cells
    val cellA = r(0L)._2
    val cellB = r(1L)._2
    assert(cellA != cellB)
    for (id <- Seq(2L, 3L, 4L)) assert(r(id)._2 === cellA)
    for (id <- Seq(5L, 6L, 7L)) assert(r(id)._2 === cellB)
    r.values.foreach { case (id, _, a, b, sil, _, _) =>
      assert(a <= b, s"own must be the min for $id")
      assert(sil === (if (b == 0) 0L else (b - a) * 1000L / b), s"sil recurrence for $id")
    }
    // tight members sit cleanly inside their cell; the straddler does not
    for (id <- Seq(0L, 1L, 2L, 5L)) assert(r(id)._5 > 900L, s"tight member $id")
    // the 5-member cell's centroid absorbs the straddler, so its own-cell
    // distance stays large relative to the gap — well under the tight 900s
    assert(r(8L)._5 < 500L, s"boundary point should straddle: ${r(8L)}")
    // per-cell rollup is the floor mean over that cell's members
    val byCell = r.values.groupBy(_._2)
    byCell.foreach { case (cell, ms) =>
      assert(ms.head._6 === ms.size.toLong)
      assert(ms.head._7 === ms.map(_._5).sum / ms.size)
      assert(ms.map(_._6).toSet.size === 1 && ms.map(_._7).toSet.size === 1)
    }
  }

  test("MMR: rank-1 is the MIPS argmax; the diversity penalty defers the duplicate") {
    // query 0 along e1. 10 and 11 are exact duplicates with a LARGE norm
    // (high mutual dot), 12 is slightly less relevant but near-orthogonal
    // to them: λ=0.7 MMR must pick 10 (argmax rel, id tie-break), then 12
    // (the duplicate's 3·selfdot penalty sinks it), then 11 — where pure
    // relevance ranking would return 10, 11, 12.
    val v = vecs(
      0L -> Seq(1f, 0f),
      10L -> Seq(0.9f, 1.2f),
      11L -> Seq(0.9f, 1.2f),
      12L -> Seq(0.85f, -0.2f))
    val got = graft.operators.Knn.mmrInt(v, "vec_id", "embedding",
        nQueries = 1, m = 3, k = 3, lamTenths = 7)
      .orderBy("rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._3) === Seq(10L, 12L, 11L))
    assert(got.map(_._2) === Seq(1L, 2L, 3L))
    // rel of the duplicate pair is identical; scores are exact integers in
    // 10×(1e-12) units: rank-1 score = 7·rel with an empty picked set
    assert(got.head._5 === 7L * got.head._4)
    // every later score carries a strictly positive redundancy penalty here
    got.tail.foreach(r => assert(r._5 < 7L * r._4))
  }

  test("MMR guards: a violated candidate-size contract throws before collecting; λ=0 is out of contract") {
    // collectBounded is the enforcement point behind every driver-side
    // candidate collect: 4 rows against a bound of 3 must THROW — and via
    // take(bound+1), so the driver never materializes the unbounded result
    val df = spark.range(4).as[Long]
    val err = intercept[IllegalArgumentException] {
      graft.operators.Knn.collectBounded(df, 3L, "test collect")
    }
    assert(err.getMessage.contains("size contract"))
    // at or under the bound: all rows come back
    assert(graft.operators.Knn.collectBounded(df, 4L, "ok").length === 4)

    // lamTenths=0 zeroes every first-pick score (engine would tie-break by
    // min cid while the SQL twin ranks by relevance) — rejected up front
    val v = vecs(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f))
    for (bad <- Seq(0, 11); fn <- Seq(
      () => graft.operators.Knn.mmrInt(v, "vec_id", "embedding", 1, 2, 2, bad),
      () => graft.operators.Knn.mmrIvfInt(v, "vec_id", "embedding", 1, 2, 2, bad,
        nCells = 2, iters = 1, sampleN = 2, nProbe = 1))) {
      assert(intercept[IllegalArgumentException](fn())
        .getMessage.contains("lamTenths"))
    }
  }

  test("IVF-probed MMR: same shape as the exact rerank; probing can only lose relevance") {
    val d = "/root/testdata/sf0.001"
    val full = SparkEntry.queries("ext_sim_mmr")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    val ivf = SparkEntry.queries("ext_sim_mmr_ivf")(spark, d)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(ivf.length === full.length) // 10 queries × 8 picks each
    // rank-1 is the pool's relevance argmax, and the probed pool is a
    // subset of the exact one — so IVF's top relevance can never exceed it
    val exactTop = full.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap
    ivf.filter(_._2 == 1L).foreach { r =>
      assert(r._4 <= exactTop(r._1), s"query ${r._1} probed rel above exact")
    }
    // picks within a query are distinct
    ivf.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).distinct.length === rs.length)
    }
  }

  test("matryoshka audit: full-dim recall is perfect; totals fold the per-query rows") {
    val got = SparkEntry.queries("ext_embed_matryoshka")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val dims = got.map(_._2).distinct.sorted
    assert(dims === Seq(8L, 16L, 32L, 64L))
    // the full-dim prefix IS the reference ranking — recall 1000 by
    // construction, per query and in the totals row
    val full = got.filter(_._2 == 64L)
    assert(full.nonEmpty && full.forall(_._4 === 1000L))
    // totals row (query_id = −1) per dim folds the per-query hit counts
    dims.foreach { dim =>
      val rows = got.filter(_._2 == dim)
      val tot = rows.find(_._1 == -1L).get
      assert(tot._3 === rows.filter(_._1 >= 0L).map(_._3).sum)
      assert(rows.count(_._1 >= 0L) === 10)
    }
  }
}
