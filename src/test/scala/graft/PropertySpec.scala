package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.operators.CdcOps

/** Property-based checks (SURVEY §5.3) over generated change logs:
  * last-write-wins is input-order-insensitive, and replaying any suffix of
  * the log from a "checkpoint" reproduces the same final state. Uses
  * ScalaCheck generators with a fixed seed (deterministic CI). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val genLog: Gen[List[(Long, Long, Int)]] = Gen.listOfN(
    60,
    for {
      eid <- Gen.choose(1L, 1000L)
      uid <- Gen.choose(1L, 8L)
      tsOff <- Gen.choose(0, 500)
    } yield (eid, uid, tsOff))

  private def samples(n: Int): Seq[List[(Long, Long, Int)]] = {
    val seed0 = rng.Seed(42L)
    (0 until n).scanLeft((genLog.pureApply(Gen.Parameters.default, seed0), seed0)) {
      case ((_, s), _) =>
        val s2 = s.next
        (genLog.pureApply(Gen.Parameters.default, s2), s2)
    }.map(_._1)
  }

  private def df(rows: List[(Long, Long, Int)]): DataFrame =
    rows.toDF("event_id", "user_id", "ts_off")
      // distinct event_id per (ts, key) not guaranteed — dedup exact rows so
      // the winner is well-defined under any input order
      .distinct()
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")) + col("ts_off") * expr("INTERVAL 1 MINUTE"))

  private def state(log: DataFrame): Set[(Long, Long)] =
    CdcOps.lastWriteWins(log, "user_id", "ts", "event_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet

  test("temporalJoin matches a driver-side point-in-time reference on random histories") {
    samples(6).foreach { rows =>
      val attrOf: Long => String = eid => "a" + (eid % 3)
      val log = df(rows).withColumn("attr", concat(lit("a"), pmod(col("event_id"), lit(3))))
      val dim = CdcOps.scd2(log, "user_id", "attr", "ts", "event_id")
      // probe every row's instant plus its neighbours — boundary coverage
      val probes = rows.flatMap { case (_, uid, t) => Seq((uid, t - 1), (uid, t), (uid, t + 1)) }
        .distinct
      val facts = probes.toDF("user_id", "t_off")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00"))
          + col("t_off") * expr("INTERVAL 1 MINUTE"))
      val outRows = CdcOps.temporalJoin(facts, dim, "user_id", "ts")
        .select(col("user_id"), col("t_off"), col("attr"))
        .as[(Long, Int, Option[String])].collect()
      assert(outRows.length === probes.length, "each probe must survive exactly once")
      val got = outRows.map { case (u, t, a) => (u, t) -> a }.toMap
      // reference: per user, sort by (ts, event_id), collapse no-change
      // writes, take the last collapsed change at-or-before the probe
      val byUser = rows.map { case (eid, uid, t) => (uid, t, eid) }.distinct
        .groupBy(_._1)
      def ref(uid: Long, t: Int): Option[String] = {
        val hist = byUser.getOrElse(uid, Nil).sortBy(h => (h._2, h._3))
        val collapsed = hist.foldLeft(List.empty[(Int, String)]) { case (acc, (_, ts, eid)) =>
          val a = attrOf(eid)
          if (acc.headOption.exists(_._2 == a)) acc else (ts, a) :: acc
        }.reverse
        collapsed.takeWhile(_._1 <= t).lastOption.map(_._2)
      }
      probes.foreach { case (uid, t) =>
        assert(got.get((uid, t)).flatten === ref(uid, t), s"user $uid at t=$t")
      }
    }
  }

  test("lastWriteWins is insensitive to input row order") {
    samples(8).foreach { rows =>
      val a = state(df(rows))
      val b = state(df(scala.util.Random.shuffle(rows)))
      assert(a === b, s"order sensitivity on sample of ${rows.size} rows")
    }
  }

  test("session merge is invariant to arrival order and micro-batch cuts") {
    import graft.streaming.Sessionize
    // THE property of the pending-list design: for ANY event multiset, ANY
    // permutation, ANY split into micro-batches, folding merge over the
    // batches equals merging everything at once — micro-batch boundaries,
    // restarts, and arbitrary disorder (bounded only by the watermark,
    // which this pure core never even sees) cannot change the sessions.
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val times = Seq.fill(n)(rnd.nextLong(20000L))
      val gap = 300L + rnd.nextInt(2000)
      val oneShot = Sessionize.merge(gap, Nil, times)
      val shuffled = rnd.shuffle(times)
      val nSplits = rnd.nextInt(5)
      val cuts = (Seq.fill(nSplits)(rnd.nextInt(n + 1)).sorted :+ n).distinct
      var pending: Seq[Sessionize.OpenSession] = Nil
      var from = 0
      cuts.foreach { to =>
        pending = Sessionize.merge(gap, pending, shuffled.slice(from, to))
        from = to
      }
      assert(pending === oneShot, s"cut/order sensitivity (gap=$gap, n=$n)")
    }
  }

  test("funnel state merge converges under any batch split, order, and redelivery") {
    import graft.streaming.FunnelStream
    // THE property behind stream_funnel's at-least-once claim: for ANY
    // event multiset, ANY split into micro-batches (shuffled, plus one
    // batch delivered twice), folding the kind's merge over per-batch
    // slices equals the one-shot state — min-merge is commutative,
    // associative, idempotent.
    val rnd = new scala.util.Random(11)
    val types = Seq("signup", "click", "purchase", "view")
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    (0 until 4).foreach { _ =>
      val n = 20 + rnd.nextInt(30)
      val rows = Seq.fill(n)((rnd.nextInt(6).toLong + 1,
        types(rnd.nextInt(types.length)), ts(rnd.nextInt(100000).toLong)))
      def frame(rs: Seq[(Long, String, java.sql.Timestamp)]) =
        rs.toDF("user_id", "event_type", "ts")
      def snap(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
      val oneShot = FunnelStream.kind().slice(frame(rows))
      val shuffled = rnd.shuffle(rows)
      val cuts = (Seq.fill(rnd.nextInt(3))(rnd.nextInt(n + 1)).sorted :+ n).distinct
      val batches = cuts.foldLeft((Seq.empty[Seq[(Long, String, java.sql.Timestamp)]], 0)) {
        case ((acc, from), to) => (acc :+ shuffled.slice(from, to), to)
      }._1
      val delivered = batches :+ batches(rnd.nextInt(batches.length)) // redelivery
      val folded = delivered.foldLeft(oneShot.limit(0)) { (state, b) =>
        FunnelStream.kind().merge(state, FunnelStream.kind().slice(frame(b)))
      }
      assert(snap(folded) === snap(oneShot), s"split/order/redelivery sensitivity (n=$n)")
    }
  }

  test("session merge applies the exact-gap chain rule of the batch query") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession
    // 2800-1000 = 1800 chains (gap of exactly gapSec); 4601-2800 = 1801 splits
    assert(Sessionize.merge(1800L, Nil, Seq(1000L, 2800L, 4601L)) ===
      Seq(OpenSession(1000L, 2800L, 2), OpenSession(4601L, 4601L, 1)))
  }

  test("a late event within the gap lowers the open session's start") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession
    val p1 = Sessionize.merge(1800L, Nil, Seq(1000L, 1200L))
    assert(Sessionize.merge(1800L, p1, Seq(900L)) === Seq(OpenSession(900L, 1200L, 3)))
  }

  test("a straggler below the open session's reach is retained as its own pending session") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession
    val p1 = Sessionize.merge(1800L, Nil, Seq(10000L))
    // kept pending (it may still be bridged by events the watermark admits)
    assert(Sessionize.merge(1800L, p1, Seq(100L)) ===
      Seq(OpenSession(100L, 100L, 1), OpenSession(10000L, 10000L, 1)))
  }

  test("a late burst chains into one pending session, not singletons") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession
    val p1 = Sessionize.merge(1800L, Nil, Seq(10000L))
    // 100→1000 chain (gap 900); 5000 is 4000 past the chain and below the
    // open session's reach → three disjoint pending sessions
    assert(Sessionize.merge(1800L, p1, Seq(100L, 1000L, 5000L)) ===
      Seq(OpenSession(100L, 1000L, 2), OpenSession(5000L, 5000L, 1),
        OpenSession(10000L, 10000L, 1)))
  }

  test("an event within reach of two pending sessions bridges them into one") {
    import graft.streaming.Sessionize
    import Sessionize.OpenSession
    // prior open (10000,10000), gap 1800: 8100 lands below reach and is
    // pending; 8250 is within 150 of it AND within 1750 of 10000 — the
    // sorted log [8100, 8250, 10000] has gaps 150 and 1750, both ≤ 1800,
    // so everything is ONE session
    val p1 = Sessionize.merge(1800L, Nil, Seq(10000L))
    assert(Sessionize.merge(1800L, p1, Seq(8100L, 8250L)) ===
      Seq(OpenSession(8100L, 10000L, 3)))
    // 6000 stays > 1800 below 8250's chain: two pending sessions remain
    assert(Sessionize.merge(1800L, p1, Seq(6000L, 8250L)) ===
      Seq(OpenSession(6000L, 6000L, 1), OpenSession(8250L, 10000L, 2)))
  }

  test("emitReady seals exactly the sessions the watermark has passed, oldest first") {
    import graft.streaming.Sessionize
    import Sessionize.{OpenSession, emitReady}
    val pending = Seq(OpenSession(100L, 200L, 2), OpenSession(5000L, 5100L, 3),
      OpenSession(9000L, 9000L, 1))
    // watermark below every deadline: nothing seals
    val (e0, r0) = emitReady(1800L, pending, watermarkMs = 0L, maxPending = 4)
    assert(e0.isEmpty && r0 === pending)
    // watermark passes 200+1800 but not 5100+1800: first seals
    val (e1, r1) = emitReady(1800L, pending, watermarkMs = 2001L * 1000, maxPending = 4)
    assert(e1 === Seq(pending.head) && r1 === pending.tail)
    // boundary: an event AT the watermark second could still chain onto
    // lastSec + gap, so sealing needs wm ≥ (last + gap + 1) s
    val (e2, _) = emitReady(1800L, pending, watermarkMs = 2001L * 1000 - 1, maxPending = 4)
    assert(e2.isEmpty)
    // overflow beyond maxPending emits oldest-first even when unsealed
    val (e3, r3) = emitReady(1800L, pending, watermarkMs = 0L, maxPending = 2)
    assert(e3 === Seq(pending.head) && r3 === pending.tail)
  }

  test("suffix-then-prefix delivery converges to the batch sessions") {
    import graft.streaming.Sessionize
    // the round-6 regression class, now a trivial corollary of merge
    // invariance: establish the open session from a suffix, deliver the
    // prefix later (in any number of pieces) — pending always converges to
    // the single batch session
    val rnd = new scala.util.Random(13)
    (0 until 30).foreach { _ =>
      val n = 3 + rnd.nextInt(30)
      val gap = 300L + rnd.nextInt(2000)
      var t = rnd.nextLong(5000L)
      val times = Seq.fill(n) { t += rnd.nextLong(gap + 1); t }
      val batch = Sessionize.merge(gap, Nil, times)
      assert(batch.size === 1)
      val k = 1 + rnd.nextInt(n - 1)
      val afterSuffix = Sessionize.merge(gap, Nil, times.drop(k))
      assert(Sessionize.merge(gap, afterSuffix, times.take(k)) === batch)
    }
  }

  test("corpus-ingest survivor merge converges under any batch split and redelivery") {
    import graft.streaming.CorpusIngest
    // docs with planted duplicate texts; quality gate irrelevant here (all
    // pass) — the property under test is the merge algebra alone
    val texts = Seq(
      "the quick brown fox jumps over a lazy dog and the dog is not amused",
      "a second document with the usual mix of words and it is fine to keep",
      "the third text is a bit different and that is the point of it all")
    val docs = (0L until 30L).map(i => (i, texts((i % 3).toInt) + " tail" + (i % 5), "en"))
      .map { case (id, t, l) => (id, t, l, "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ingest = CorpusIngest.transform(docs, minQuality = 0.0)
    def run(batches: Seq[DataFrame]): Set[(String, Long)] =
      batches.foldLeft(ingest.limit(0)) { (state, b) =>
        CorpusIngest.merge(state, b)
      }.select("digest", "doc_id").as[(String, Long)].collect().toSet
    val oneShot = run(Seq(ingest))
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { _ =>
      // random split into micro-batches, each redelivered 1–2 times, in a
      // shuffled order — at-least-once with arbitrary batching
      val cut1 = rnd.nextInt(31)
      val cut2 = cut1 + rnd.nextInt(31 - cut1)
      val parts = Seq(
        ingest.filter(col("doc_id") < cut1),
        ingest.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
        ingest.filter(col("doc_id") >= cut2))
      val delivered = rnd.shuffle(parts.flatMap(p => Seq.fill(1 + rnd.nextInt(2))(p)))
      assert(run(delivered) === oneShot, "split/redelivery diverged from the one-shot merge")
    }
  }

  test("privacy trio reports agree on the quasi grid and respect their bounds") {
    import graft.streaming.{KAnonymityStream, LDiversityStream}
    val rnd = new scala.util.Random(17)
    val ev = (1L to 300L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${1 + rnd.nextInt(5)}%02d 10:00:00"),
        1L + rnd.nextInt(6), Seq("click", "view", "purchase")(rnd.nextInt(3)),
        rnd.nextDouble() * 50.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val k = KAnonymityStream.report(KAnonymityStream.slice(ev))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val l = LDiversityStream.report(LDiversityStream.slice(ev))
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val t = KAnonymityStream.reportTCloseness(KAnonymityStream.slice(ev))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // k bands account for every event; k and l read the SAME
    // (type, day, vbucket) grid so their class totals agree
    assert(k.map(_._3).sum === 300L)
    assert(k.map(_._2).sum === l.map(_._2).sum)
    // distinct users per class can't exceed rows per class, so l ≤ k's
    // implied sizes pointwise is not checkable from bands — but the
    // dataset-level numbers respect their definitions
    assert(k.forall(_._5 >= 1L) && l.forall(_._5 >= 1L))
    // t-closeness rows account for every event; the ordered EMD is a
    // normalized distance: 0 ≤ t_milli ≤ 1000, and the dataset t is the max
    assert(t.map(_._3).sum === 300L)
    assert(t.forall(r => r._4 >= 0L && r._4 <= 1000L))
    assert(t.forall(_._5 === t.map(_._4).max))
  }

  test("t-closeness is exactly zero when one class IS the global distribution") {
    import graft.streaming.KAnonymityStream
    // every event in ONE (type, day) class, values spread over buckets:
    // the class distribution equals the global one ⇒ ordered EMD = 0
    val ev = (1L to 60L).map { i =>
      (i, java.sql.Timestamp.valueOf("2024-02-01 09:00:00"), i % 7,
        "click", (i % 5) * 10.0 + 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val t = KAnonymityStream.reportTCloseness(KAnonymityStream.slice(ev))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(t === Seq(("click", "2024-02-01", 60L, 0L, 0L)))
  }

  test("multimodal dedup stream converges to the batch tier under any batch split, redelivery and compaction") {
    import graft.streaming.MultimodalDedupStream
    import graft.operators.Multimodal
    // 16 docs over 5 payloads — repeated payloads form hamming-0 clusters,
    // singles stay keep-weight-1; the stub media column is the text bytes
    val payloads = Vector(
      "shared banner image payload used across mirror pages",
      "a second duplicated asset with different byte content",
      "unique photograph number three with its own caption",
      "a fourth distinct diagram with labeled axes and legend",
      "the fifth image is an unrelated screenshot of a terminal")
    val rnd = new scala.util.Random(41)
    val all = (0L until 16L).map { i =>
        val t = payloads(rnd.nextInt(payloads.length))
        (i, t, "en", s"src${i % 3}", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars").localCheckpoint(true)
    def rows(df: DataFrame) =
      df.as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val batchPairs = Multimodal.phashPairs(Multimodal.imageHashes(all)(spark))
      .localCheckpoint(true)
    val oneShot = rows(Multimodal.softDedup(all, batchPairs))
    val oneShotX = graft.operators.Dedup.crossSourceMatrix(batchPairs,
        all.select(col("doc_id"), col("source"), col("n_chars")))
      .as[(String, String, Long, Long, Long)].collect().toSeq
    (0 until 2).foreach { trial =>
      val dir = tmp(s"mmdp$trial").resolve("state").toString
      val cut1 = rnd.nextInt(17)
      val cut2 = cut1 + rnd.nextInt(17 - cut1)
      val parts = Seq(
        all.filter(col("doc_id") < cut1),
        all.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
        all.filter(col("doc_id") >= cut2))
      // at-least-once: each part delivered 1–2 times, in shuffled order;
      // compactEvery = 2 forces mid-stream folds so the probe also reads
      // compacted bases, not just raw deltas
      val delivered = rnd.shuffle(parts.flatMap(p => Seq.fill(1 + rnd.nextInt(2))(p)))
      delivered.zipWithIndex.foreach { case (b, i) =>
        MultimodalDedupStream.applyBatch(spark, b, dir, i.toLong, compactEvery = 2)
      }
      val got = rows(MultimodalDedupStream.report(spark, dir))
      // one-state-many-reports: the cross-source matrix off the SAME
      // states must equal the batch matrix too
      val gotX = MultimodalDedupStream.crossSource(spark, dir)
        .as[(String, String, Long, Long, Long)].collect().toSeq
      SessionFrames.release(spark)
      assert(got === oneShot, s"trial $trial diverged from the one-shot batch tier")
      assert(gotX === oneShotX, s"trial $trial cross-source matrix diverged")
    }
  }

  test("every monitor's applyBatch converges to the one-shot answer under any split, replay, redelivery and compaction") {
    import scala.jdk.CollectionConverters._
    import graft.streaming._
    // THE incremental-equals-batch property, driven through each state
    // kind's real applyBatch on disk: for random splits of a monitor's
    // input into micro-batches, a replayed batch id carrying rows the input
    // never had (a no-op, or the answer moves), the same rows redelivered
    // under a new id, and compactEvery 1 and 2, the state (union kinds) or
    // the report (additive and ledgered kinds) equals one batch of it all,
    // and equals the kind's batchAnswer over it all, the batch form the
    // stream_* queries replay through.
    // Additive COUNT merges absorb a redelivery upstream, in the stream's
    // event-id dedup, so they are exempt from the redelivery step only.
    val rnd = new scala.util.Random(43)
    val types = Seq("signup", "click", "purchase", "view", "error")
    def ts(sec: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(sec.toLong))
    // 48 rows per source; keys past 40 are the foreign rows a replay carries
    val events = (1L to 48L).map { i =>
      (i, ts(rnd.nextInt(20 * 86400)), 1L + rnd.nextInt(6), types(rnd.nextInt(types.size)),
        rnd.nextInt(10000) / 100.0, Seq("{}", """{"k":"a"}""", """{"k":"b","j":1}""")(rnd.nextInt(3)))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val words = Seq("the", "a", "model", "data", "crawl", "page", "token", "shard")
    val docs = (1L to 48L).map { i =>
      val text = (Seq.fill(14)(words(rnd.nextInt(3))) ++
        Seq.fill(2 + rnd.nextInt(6))(words(rnd.nextInt(words.size)))).mkString(" ")
      (i, text, Seq("en", "fr")(rnd.nextInt(2)), Seq("web", "blog", "news")(rnd.nextInt(3)),
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val urls = (1L to 48L).map { i =>
      (i, Seq("http://Example.com/a?utm_source=x", "https://example.com/a", "http://other.org/x",
        s"http://h${i % 5}.example.com/p")(rnd.nextInt(4)))
    }.toDF("doc_id", "raw_url")
    val vecs = (1L to 48L).map(i => (i, Seq.fill(2)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val cells = Seq(0 -> Array(1000000L, 0L), 1 -> Array(0L, 1000000L),
      2 -> Array(-1000000L, -1000000L))
    val index = Decontam.evalIndex(docs.filter(col("doc_id") <= 2L)).localCheckpoint(true)

    final case class Case(name: String, kind: Monitor.Kind, input: DataFrame, key: String,
                          prep: DataFrame => DataFrame, report: DataFrame => DataFrame,
                          absorbsRedelivery: Boolean = true) {
      def answer(dir: String): DataFrame = report(kind.state(spark, dir))
    }
    def additive(name: String, kind: Monitor.Additive, input: DataFrame,
                 report: DataFrame => DataFrame, absorbsRedelivery: Boolean = true) =
      Case(name, kind, input, "event_id", identity, report, absorbsRedelivery)
    def union(name: String, kind: Monitor.Kind, input: DataFrame, key: String = "doc_id",
              prep: DataFrame => DataFrame = identity) =
      Case(name, kind, input, key, prep, identity)
    val changes = CdcPipeline.transform(events)
    val cases = Seq(
      additive("topk", TopkStream, changes, TopkStream.report(_), absorbsRedelivery = false),
      additive("benford", BenfordStream, changes, BenfordStream.report, absorbsRedelivery = false),
      additive("heavy hitters", HeavyHittersStream, changes, HeavyHittersStream.report(_),
        absorbsRedelivery = false),
      additive("quantiles", QuantilesStream, changes, QuantilesStream.report,
        absorbsRedelivery = false),
      additive("schema profile", SchemaProfileStream, events, SchemaProfileStream.report,
        absorbsRedelivery = false),
      additive("k-anonymity", KAnonymityStream, events, KAnonymityStream.report,
        absorbsRedelivery = false),
      Case("funnel", FunnelStream.kind(), changes, "event_id", identity, FunnelStream.report(_)),
      Case("retention", RetentionStream.kind(), changes, "event_id", identity,
        RetentionStream.report),
      additive("gap fill", GapFillStream, changes, GapFillStream.report),
      additive("scd2", Scd2Stream, changes, Scd2Stream.report),
      union("length profile", LengthProfileStream, docs, prep = LengthProfileStream.transform),
      union("ks drift", KsDriftStream, docs, prep = KsDriftStream.transform),
      union("quality drift", QualityDrift, docs, prep = QualityDrift.gate),
      union("vocab drift", VocabDrift, docs, prep = VocabDrift.gate(_, Seq("the", "model"))),
      union("decontam", Decontam, docs, prep = Decontam.gate(_, index)),
      union("source caps", SourceCapsStream.kind(2), docs),
      union("prefix dup", PrefixDupStream, docs),
      union("url dedup", UrlDedupStream, urls),
      union("l-diversity", LDiversityStream, events, key = "event_id"),
      union("corpus ingest", CorpusIngest, docs, prep = CorpusIngest.transform(_, 0.0)),
      Case("dsir model", DsirModelStream, docs, "doc_id", identity, DsirModelStream.report),
      Case("embed drift", EmbedDriftStream, vecs, "vec_id", identity, EmbedDriftStream.report),
      Case("ivf occupancy", IvfOccupancyStream.kind(cells), vecs, "vec_id", identity,
        IvfOccupancyStream.report))

    def snap(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    // compactEvery only moves the kinds that keep deltas
    def folds(k: Monitor.Kind) = k match {
      case _: Monitor.Union | _: Monitor.Ledgered => Seq(1, 2)
      case _ => Seq(1)
    }
    for (c <- cases; compactEvery <- folds(c.kind)) {
      def dir() = tmp("conv").resolve("state").toString
      val rows = c.input.filter(col(c.key) <= 40L).collect().toSeq
      val foreign = c.prep(c.input.filter(col(c.key) > 40L))
      def frame(rs: Seq[org.apache.spark.sql.Row]) =
        c.prep(spark.createDataFrame(rs.asJava, c.input.schema))
      val oneShotDir = dir()
      c.kind.applyBatch(spark, frame(rows), oneShotDir, 0L, compactEvery)
      val oneShot = snap(c.answer(oneShotDir))
      val batchForm = snap(c.report(c.kind.batchAnswer(frame(rows))))

      val shuffled = rnd.shuffle(rows)
      val cuts = (Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(rows.size + 1)) :+ rows.size)
        .distinct.sorted
      val batches = cuts.foldLeft((Seq.empty[Seq[org.apache.spark.sql.Row]], 0)) {
        case ((acc, from), to) => (acc :+ shuffled.slice(from, to), to)
      }._1
      val replayAfter = rnd.nextInt(batches.size)
      val redeliverAfter = rnd.nextInt(batches.size)
      val d = dir()
      var nextId = 0L
      batches.zipWithIndex.foreach { case (b, i) =>
        c.kind.applyBatch(spark, frame(b), d, nextId, compactEvery)
        nextId += 1
        if (i == replayAfter) // a replayed id: ignored whatever it carries
          c.kind.applyBatch(spark, foreign, d, rnd.nextInt(nextId.toInt).toLong, compactEvery)
        if (i == redeliverAfter && c.absorbsRedelivery) { // delivered rows, a new id
          c.kind.applyBatch(spark, frame(batches(rnd.nextInt(i + 1))), d, nextId, compactEvery)
          nextId += 1
        }
      }
      assert(snap(c.answer(d)) === oneShot,
        s"${c.name} (compactEvery=$compactEvery, ${batches.map(_.size)}) diverged from one batch")
      assert(snap(c.answer(d)) === batchForm,
        s"${c.name} (compactEvery=$compactEvery, ${batches.map(_.size)}) diverged from batchAnswer")
    }
  }

  test("greedy lowest-rank BPE merging equals sequential rank-order replay") {
    // the equivalence the ext_bpe_* oracles REST ON: applying merges one
    // rank at a time with leftmost-first non-overlapping replacement (the
    // recursive CTE's replace()) must reproduce the greedy lowest-rank
    // loop the engine runs. Exercised over random small-alphabet tokens
    // and random merge lists, self-pairs included ("aaa" is the
    // distinguishing input for leftmost-first).
    import graft.functions.BpeMerge
    import scala.jdk.CollectionConverters._

    // one leftmost-first non-overlapping pass per rank — exactly one
    // wrapped-string replace() per CTE iteration
    def replay(tok: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms: Seq[String] = tok.map(_.toString)
      for ((a, b) <- merges) {
        val out = Seq.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }

    // merge lists honor the TRAINING invariant — rank r's operands are
    // symbols buildable from merges < r (what bpeTrain emits). The
    // equivalence genuinely requires it: with an ill-formed list like
    // [(a,ab), (a,b)], greedy merges (a,b) first and then reaches the
    // lower-rank (a,ab), which the one-pass-per-rank replay has already
    // passed by. bpeTrain can never emit such a list (a pair over "ab"
    // cannot be chosen before "ab" exists), so the oracle only ever
    // replays well-formed lists.
    val genMergeList: Gen[Seq[(String, String)]] = {
      def step(syms: Vector[String], acc: Vector[(String, String)], k: Int): Gen[Vector[(String, String)]] =
        if (k == 0) Gen.const(acc)
        else for {
          a <- Gen.oneOf(syms)
          b <- Gen.oneOf(syms)
          r <- step(syms :+ (a + b), acc :+ ((a, b)), k - 1)
        } yield r
      step(Vector("a", "b", "c"), Vector.empty, 5)
    }
    val genTok = Gen.stringOfN(8, Gen.oneOf('a', 'b', 'c'))
    var seed = rng.Seed(7L)
    for (_ <- 0 until 300) {
      val tok = genTok.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val merges = genMergeList.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val greedy = BpeMerge.mergeToken(tok, BpeMerge.rankMap(merges)).asScala.toSeq
      assert(greedy === replay(tok, merges),
        s"tok=$tok merges=$merges greedy=$greedy replay=${replay(tok, merges)}")
      assert(greedy.mkString === tok) // encode loses nothing, any list
    }
  }

  test("replaying any suffix from a checkpointed state is a no-op on the final state") {
    samples(8).foreach { rows =>
      val full = df(rows)
      val finalState = CdcOps.lastWriteWins(full, "user_id", "ts", "event_id")
      // checkpoint at an arbitrary cut: state built from the full log, then
      // the suffix (last 20 minutes) replayed on top — at-least-once overlap
      val suffix = full.filter(col("ts_off") >= 480)
      val replayed = CdcOps.upsertMerge(
        finalState, CdcOps.lastWriteWins(suffix, "user_id", "ts", "event_id"), "user_id")
      val a = finalState.select("user_id", "event_id").as[(Long, Long)].collect().toSet
      val b = replayed.select("user_id", "event_id").as[(Long, Long)].collect().toSet
      assert(a === b, "suffix replay changed the final state")
    }
  }

  test("urlCanon is idempotent and case/scheme/tracking-invariant on random URLs") {
    // random URLs assembled from the parts the canonicalizer handles:
    // canon(canon(u)) == canon(u) (a canonical form is a fixed point), and
    // every noise variant of the same logical page lands on one canon
    val genUrl: Gen[(String, String)] = for {
      scheme <- Gen.oneOf("http://", "HTTPS://", "https://", "")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("example.com", "Sub.Example.COM", "xn--mnchen-3ya.de")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/a", "/A/b", "/a/b/")
      track <- Gen.oneOf("", "?utm_source=x", "?utm_a=1&utm_b=2", "?gclid=g")
      real <- Gen.oneOf("", "&id=5", "&q=Term")
      frag <- Gen.oneOf("", "#top")
    } yield {
      val query =
        if (track.isEmpty && real.nonEmpty) "?" + real.drop(1)
        else track + real
      (scheme + www + host + port + path + query + frag,
        host.toLowerCase + (if (port == ":8080") port else ""))
    }
    val seed0 = rng.Seed(7L)
    val urls = (0 until 200).scanLeft(
      (genUrl.pureApply(Gen.Parameters.default, seed0), seed0)) { case ((_, sd), _) =>
        val s2 = sd.next
        (genUrl.pureApply(Gen.Parameters.default, s2), s2)
      }.map(_._1)
    val dd = urls.toDF("raw", "want_host")
      .select(col("raw"), col("want_host"),
        graft.operators.Dedup.urlCanon(col("raw")).as("c1"))
      .select(col("raw"), col("want_host"), col("c1"),
        graft.operators.Dedup.urlCanon(col("c1")).as("c2"))
      .collect()
    dd.foreach { r =>
      val (raw, wantHost, c1, c2) =
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
      assert(c1 === c2, s"not idempotent: $raw -> $c1 -> $c2")
      val host = c1.takeWhile(ch => ch != '/' && ch != '?')
      assert(host === wantHost, s"host of $raw: got $host want $wantHost")
      assert(!c1.contains("#") && !c1.toLowerCase.contains("utm_")
        && !c1.toLowerCase.contains("gclid"), s"noise survived: $raw -> $c1")
    }
  }

  test("winnowing: the k+w-1 guarantee and the density bound hold on random text pairs") {
    // random lowercase docs with a random ≥(k+w−1)-char run planted in
    // both — Schleimer's theorem says the winnowed sets must intersect;
    // and no doc may keep more fingerprints than it has window starts
    val K = 8; val W = 4; val P = 1000000007L
    val genChar = Gen.choose('a', 'z')
    def genStr(lo: Int, hi: Int): Gen[String] = for {
      n <- Gen.choose(lo, hi)
      cs <- Gen.listOfN(n, genChar)
    } yield cs.mkString
    val genCase = for {
      shared <- genStr(K + W - 1, 40)
      pre1 <- genStr(0, 30); suf1 <- genStr(0, 30)
      pre2 <- genStr(0, 30); suf2 <- genStr(0, 30)
    } yield (pre1 + shared + suf1, pre2 + shared + suf2)
    val seed0 = rng.Seed(11L)
    val cases = (0 until 40).scanLeft(
      (genCase.pureApply(Gen.Parameters.default, seed0), seed0)) { case ((_, sd), _) =>
        val s2 = sd.next
        (genCase.pureApply(Gen.Parameters.default, s2), s2)
      }.map(_._1)
    val rows = cases.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a), (2L * i + 1, b))
    }
    val fps = graft.operators.Dedup.winnowFingerprints(
        rows.toDF("doc_id", "text"), "text", "doc_id", K, W, P)
      .as[(Long, Seq[Long])].collect().toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      val (fa, fb) = (fps(2L * i), fps(2L * i + 1))
      assert(fa.toSet.intersect(fb.toSet).nonEmpty,
        s"case $i: shared run left no shared fingerprint ($a | $b)")
      for ((t, f) <- Seq((a, fa), (b, fb))) {
        val ng = t.length - K + 1
        assert(f.length <= math.max(ng - W + 1, 1), s"case $i: density bound")
        assert(f.nonEmpty)
      }
    }
  }
}
