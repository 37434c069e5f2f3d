package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** State-layout lifecycle pins for the two micro-batch commit disciplines:
  * [[AppendState]] (append-only deltas for monotone union state) and
  * [[StateCommit]] (versioned flips for additive state) — torn writes,
  * replays, compaction, and legacy-layout migration. Lives in the
  * streaming package to exercise the private[streaming] helpers directly;
  * the end-to-end stream paths are in StreamingSpec. */
class StateLayoutSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  import spark.implicits._

  /** A (doc_id, text) fixture widened to the docs-file schema
    * [[graft.streaming.CorpusIngest.docsFileSchema]] applyBatch consumes
    * (the metadata ledger needs source/n_chars). */
  private def docsDF(rows: Seq[(Long, String)]) =
    rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("AppendState: per-batch deltas are O(batch), torn tmp dirs recover, replays skip") {
    val dir = tmp("as").resolve("state").toString
    assert(AppendState.raw(spark, dir).isEmpty)

    AppendState.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, 0L)
    // the delta dir holds ONLY this batch's rows — the O(batch) write claim
    assert(spark.read.parquet(s"$dir/delta=0").count() === 2L)

    // torn write: a crash left a partial tmp dir for batch 1 — the replay
    // must clear it, publish atomically, and readers never see the orphan
    val torn = new java.io.File(dir, ".tmp-1")
    torn.mkdirs()
    Files.writeString(new java.io.File(torn, "part-garbage.parquet").toPath, "not parquet")
    AppendState.append(Seq((3L, "c")).toDF("k", "v"), dir, 1L)
    assert(!torn.exists())
    assert(AppendState.raw(spark, dir).get.count() === 3L)

    // replayed batch id: no-op even with different rows (the guard)
    AppendState.append(Seq((99L, "x")).toDF("k", "v"), dir, 1L)
    assert(AppendState.raw(spark, dir).get.as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // out-of-band apply (negative id): appended under the next free id,
    // duplicates collapse through the caller's merge-on-read
    AppendState.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), dir, -1L)
    assert(AppendState.deltaIds(dir) === Seq(0L, 1L, 2L))
    assert(AppendState.raw(spark, dir).get.distinct().count() === 4L)
  }

  test("AppendState: compaction folds deltas into a base without changing state; later appends stack on top") {
    val dir = tmp("asc").resolve("state").toString
    AppendState.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, 0L)
    AppendState.append(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), dir, 1L)
    val before = AppendState.raw(spark, dir).get.distinct()
      .as[(Long, String)].collect().toSet

    AppendState.compact(spark, dir, _.distinct())
    assert(AppendState.baseId(dir) === 1L)
    assert(AppendState.deltaIds(dir).isEmpty)
    assert(AppendState.raw(spark, dir).get.as[(Long, String)].collect().toSet === before)

    // a replay of a folded batch is refused by the base marker
    AppendState.append(Seq((99L, "x")).toDF("k", "v"), dir, 1L)
    assert(AppendState.raw(spark, dir).get.count() === 3L)

    // new deltas stack on the base; a second compaction folds them in
    AppendState.append(Seq((4L, "d")).toDF("k", "v"), dir, 2L)
    assert(AppendState.raw(spark, dir).get.count() === 4L)
    AppendState.compact(spark, dir, _.distinct())
    assert(AppendState.baseId(dir) === 2L)
    assert(AppendState.raw(spark, dir).get.as[(Long, String)].collect().toSet
      === before + ((4L, "d")))
  }

  test("NeardupStream: stop-shingle cap bounds the probe; verification stays exact") {
    // "z z z" appears in 5 docs (df 5 > maxDf 3) — boilerplate. A/B also
    // share rare shingles; C/D/E pairs share ONLY the hot shingle.
    val docs = docsDF(Seq(
      (1L, "a b c d z z z"), (2L, "a b c d z z z"), // exact dups, rare+hot shingles
      (3L, "z z z z"), (4L, "z z z z z"),           // only distinct shingle is hot
      (5L, "y z z z z")))

    def run(maxDf: Long): Set[(Long, Long, Double)] = {
      val dir = tmp(s"ndcap$maxDf").resolve("state").toString
      NeardupStream.applyBatch(spark, docs, dir, batchId = 0L, maxDf = maxDf)
      NeardupStream.pairState(spark, dir).as[(Long, Long, Double)].collect().toSet
    }

    // uncapped: matches the batch exact-Jaccard join bit for bit
    val batch = graft.operators.Dedup
      .ngramJaccard(docs, "text", "doc_id", n = 3, threshold = NeardupStream.Threshold)
      .as[(Long, Long, Double)].collect().toSet
    graft.SessionFrames.release(spark)
    val uncapped = run(NeardupStream.DefaultMaxDf)
    assert(uncapped === batch)
    assert(uncapped.map(p => (p._1, p._2))
      .contains((3L, 4L))) // the hot-only pair IS real — found when uncapped

    // capped: pairs with >=1 rare common shingle survive with EXACT jaccard
    // (the hot shingle still counts in the intersection at verify time);
    // hot-only pairs are the documented boilerplate-blindness
    val capped = run(3L)
    assert(capped === Set((1L, 2L, 1.0)))
  }

  test("NeardupStream: index deltas are bucketed by pmod(sh, B) and the probe read prunes partitions") {
    val dir = tmp("ndbkt").resolve("state").toString
    val b0 = docsDF(Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g x")))
    val b1 = docsDF(Seq((3L, "p q r s t u v w")))
    NeardupStream.applyBatch(spark, b0, dir, batchId = 0L)
    NeardupStream.applyBatch(spark, b1, dir, batchId = 1L)

    // layout: every index delta holds Hive-style bucket=K subdirs
    for (id <- Seq(0L, 1L)) {
      val sub = new java.io.File(s"$dir/index/delta=$id").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(sub.nonEmpty && sub.forall(_.startsWith("bucket=")),
        s"delta=$id not bucketed: ${sub.mkString(",")}")
    }

    // the probe-shaped read (bucket filter then projection) prunes files:
    // PartitionFilters must carry the bucket predicate
    val probe = AppendState.raw(spark, s"$dir/index").get
      .filter(col("bucket").isin(0, 1)).select(col("doc_id"), col("sh"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(plan).isDefined,
      s"bucket predicate not a partition filter:\n${plan.take(1500)}")

    // semantics unchanged: pair table matches the batch exact-Jaccard join
    val expect = graft.operators.Dedup.ngramJaccard(
      b0.unionByName(b1), "text", "doc_id", n = 3,
      threshold = NeardupStream.Threshold)
      .as[(Long, Long, Double)].collect().toSet
    graft.SessionFrames.release(spark)
    assert(NeardupStream.pairState(spark, dir)
      .as[(Long, Long, Double)].collect().toSet === expect)

    // compaction preserves the bucketed layout in the base
    NeardupStream.compact(spark, dir)
    val baseSub = new java.io.File(s"$dir/index/base=1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(baseSub.nonEmpty && baseSub.forall(_.startsWith("bucket=")),
      s"compacted base not bucketed: ${baseSub.mkString(",")}")
    assert(NeardupStream.pairState(spark, dir)
      .as[(Long, Long, Double)].collect().toSet === expect)
  }

  test("MultimodalDedupStream: band-index deltas are bucketed by pmod(key, B) and the probe read prunes partitions") {
    val dir = tmp("mmbkt").resolve("state").toString
    val dup = "the very same promotional banner embedded on two mirror pages"
    MultimodalDedupStream.applyBatch(spark, docsDF(Seq((1L, dup))), dir, batchId = 0L)
    MultimodalDedupStream.applyBatch(spark,
      docsDF(Seq((2L, dup), (3L, "a completely unrelated caption"))), dir, batchId = 1L)

    // layout: every index delta holds Hive-style bucket=K subdirs
    for (id <- Seq(0L, 1L)) {
      val sub = new java.io.File(s"$dir/index/delta=$id").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(sub.nonEmpty && sub.forall(_.startsWith("bucket=")),
        s"delta=$id not bucketed: ${sub.mkString(",")}")
    }

    // the probe-shaped read (bucket filter then projection) prunes files:
    // PartitionFilters must carry the bucket predicate — the layout half
    // of the scaladoc's "posting fetch prunes whole delta files" claim
    val probe = AppendState.raw(spark, s"$dir/index").get
      .filter(col("bucket").isin(0, 1))
      .select(col("doc_id"), col("phash"), col("band"), col("__key"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*bucket""".r.findFirstIn(plan).isDefined,
      s"bucket predicate not a partition filter:\n${plan.take(1500)}")

    // the cross-batch pair completed and survives compaction
    val expect = Set((1L, 2L, 0L))
    assert(MultimodalDedupStream.pairState(spark, dir)
      .as[(Long, Long, Long)].collect().toSet === expect)
    MultimodalDedupStream.compact(spark, dir)
    val baseSub = new java.io.File(s"$dir/index/base=1").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(baseSub.nonEmpty && baseSub.forall(_.startsWith("bucket=")),
      s"compacted base not bucketed: ${baseSub.mkString(",")}")
    assert(MultimodalDedupStream.pairState(spark, dir)
      .as[(Long, Long, Long)].collect().toSet === expect)
  }

  test("AppendState: a zero-row partitioned delta never poisons the state dir") {
    val dir = tmp("asempty").resolve("state").toString
    val rows = Seq((1L, "a", 0)).toDF("k", "v", "bucket")
    AppendState.append(rows, dir, 0L, partitionCols = Seq("bucket"))
    // batch 1 is empty: a zero-row partitionBy write emits only _SUCCESS
    // (no schema-bearing part file), so the publish must SKIP — a landed
    // delta=1 dir would fail every later per-dir read with
    // UNABLE_TO_INFER_SCHEMA
    AppendState.append(rows.limit(0), dir, 1L, partitionCols = Seq("bucket"))
    assert(!new java.io.File(dir, "delta=1").exists())
    assert(AppendState.raw(spark, dir).get.count() === 1L)
    // later appends continue normally on top of the gap
    AppendState.append(Seq((2L, "b", 1)).toDF("k", "v", "bucket"), dir, 2L,
      partitionCols = Seq("bucket"))
    assert(AppendState.raw(spark, dir).get.count() === 2L)
    // an empty MERGE result must still publish a readable base (the marker
    // flip is what retires the folded deltas) — republished schema-only
    AppendState.compact(spark, dir, _.limit(0), partitionCols = Seq("bucket"))
    assert(AppendState.baseId(dir) === 2L)
    assert(AppendState.raw(spark, dir).get.count() === 0L)
    AppendState.append(Seq((3L, "c", 2)).toDF("k", "v", "bucket"), dir, 3L,
      partitionCols = Seq("bucket"))
    assert(AppendState.raw(spark, dir).get.count() === 1L)
  }

  test("NeardupStream: a zero-shingle micro-batch leaves the state usable") {
    val dir = tmp("ndz").resolve("state").toString
    // < 3 tokens → zero shingle rows → all three state appends are empty
    NeardupStream.applyBatch(spark, docsDF(Seq((1L, "a b"))), dir, 0L)
    NeardupStream.applyBatch(spark,
      docsDF(Seq((2L, "a b c d e f"), (3L, "a b c d e g"))), dir, 1L)
    assert(NeardupStream.pairState(spark, dir)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet === Set((2L, 3L)))
  }

  test("NeardupStream.newPairs: duplicate index rows (redelivery) change nothing") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"), (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val once = NeardupStream.shingleRows(docs).localCheckpoint(true)
    val sizes = NeardupStream.sizeRows(once)
    def run(index: org.apache.spark.sql.DataFrame) =
      NeardupStream.newPairs(once, index, sizes)
        .as[(Long, Long, Double)].collect().toSet
    val single = run(once)
    val doubled = run(once.unionByName(once)) // every posting delivered twice
    assert(single === doubled)
    assert(single.map(p => (p._1, p._2)) === Set((1L, 2L)))
  }

  test("SchemaProfileStream: state growth is the (type, key, val) grid + per-type totals — never event-sized") {
    val dir = tmp("shpgrid").resolve("state").toString
    def batch(ids: Range) = ids.map { i =>
      // many events, ONE payload shape: {"k": <i mod 2>} — 2 value cells
      (i.toLong, java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 3} 10:00:00"),
        i.toLong, "click", 1.0, s"""{"k": ${i % 2}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    SchemaProfileStream.applyBatch(spark, batch(0 until 500), dir, 0L)
    // 500 events landed; the state is 2 value cells + 1 total row
    assert(SchemaProfileStream.state(spark, dir).count() === 3L)

    // 500 MORE events of the same shape: counts grow, the grid does not
    SchemaProfileStream.applyBatch(spark, batch(500 until 1000), dir, 1L)
    val st = SchemaProfileStream.state(spark, dir)
    assert(st.count() === 3L)
    assert(st.filter(col("key").isNull).select("n")
      .as[Long].collect().toSeq === Seq(1000L))

    // the report off the grid carries exact presence/spread/day bounds
    assert(SchemaProfileStream.report(st)
      .as[(String, String, Long, Long, String, String, Long)].collect().toSeq
      === Seq(("click", "k", 1000L, 2L, "2024-01-01", "2024-01-03", 1000L)))
  }

  test("auto-compaction: delta-file count stays bounded across N batches with NO manual compact call") {
    val dir = tmp("ac").resolve("state").toString
    // 20 micro-batches through the stream's own applyBatch — the default
    // compactEvery must keep the live delta count under the trigger and
    // leave the folded state byte-equivalent to the union
    (0 until 20).foreach { b =>
      UrlDedupStream.applyBatch(
        Seq((b.toLong, s"http://h$b.example.com/p?utm_source=x")).toDF("doc_id", "raw_url"),
        dir, batchId = b.toLong)
    }
    assert(AppendState.deltaIds(dir).size < AppendState.DefaultCompactEvery,
      s"deltas must stay bounded, got ${AppendState.deltaIds(dir)}")
    assert(AppendState.baseId(dir) >= 0, "a compacted base must exist")
    assert(UrlDedupStream.state(spark, dir).select("doc_id").distinct().count() === 20L)
    // opting out (compactEvery ≤ 0) accumulates one delta per batch
    val dir2 = tmp("ac2").resolve("state").toString
    (0 until 10).foreach { b =>
      UrlDedupStream.applyBatch(
        Seq((b.toLong, s"http://h$b.example.com/p")).toDF("doc_id", "raw_url"),
        dir2, batchId = b.toLong, compactEvery = 0)
    }
    assert(AppendState.deltaIds(dir2).size === 10)
  }

  test("layout versioning: mismatched or missing stamps fail LOUD on every state user") {
    // (a) an AppendState dir stamped by a different layout generation:
    // readers AND writers refuse with the version message
    val dir = tmp("lv").resolve("state").toString
    AppendState.append(Seq((1L, "a")).toDF("k", "v"), dir, 0L)
    Files.writeString(new java.io.File(dir, ".layout").toPath, "graft-append-state v0")
    val eA = intercept[IllegalArgumentException] { AppendState.raw(spark, dir) }
    assert(eA.getMessage.contains("graft-append-state v0"))
    val eW = intercept[IllegalArgumentException] {
      AppendState.append(Seq((2L, "b")).toDF("k", "v"), dir, 1L)
    }
    assert(eW.getMessage.contains("incompatible state layout"))

    // (b) a pre-versioning AppendState dir (recognizably this module's own
    // delta=/base= layout, no stamp) migrates in place — readable
    // immediately, stamped at the next write, mirroring StateCommit's
    // legacy path; bricking every dir the previous release wrote is not a
    // version guard, it's an upgrade bug
    val dir2 = tmp("lv2").resolve("state").toString
    AppendState.append(Seq((1L, "a")).toDF("k", "v"), dir2, 0L)
    assert(new java.io.File(dir2, ".layout").delete())
    assert(AppendState.raw(spark, dir2).get.count() === 1L) // readable as-is
    AppendState.append(Seq((2L, "b")).toDF("k", "v"), dir2, 1L)
    assert(Files.readString(new java.io.File(dir2, ".layout").toPath).trim
      === AppendState.LayoutId) // re-stamped by the write
    assert(AppendState.raw(spark, dir2).get.count() === 2L)

    // (b2) an unstamped dir with content this module NEVER writes is a
    // different state class — the hard refusal is reserved for it
    val dir2b = tmp("lv2b").resolve("state").toString
    new java.io.File(dir2b).mkdirs()
    Files.writeString(new java.io.File(dir2b, "part-0.parquet").toPath, "x")
    val eB = intercept[IllegalArgumentException] { AppendState.raw(spark, dir2b) }
    assert(eB.getMessage.contains(".layout"))

    // (c) StateCommit pointed at an AppendState-layout dir — the
    // SchemaProfileStream round-15 rewrite hazard: must refuse, never
    // report "no state" and silently rebuild the grid from one batch
    val dir3 = tmp("lv3").resolve("state").toString
    AppendState.append(Seq((1L, "a")).toDF("k", "v"), dir3, 0L)
    val eC = intercept[IllegalArgumentException] { StateCommit.lastApplied(dir3) }
    assert(eC.getMessage.contains("AppendState-layout"))
    intercept[IllegalArgumentException] {
      StateCommit.applyBatch(spark, dir3, 0L)(_ => Seq((1L, 1L)).toDF("k", "n"))
    }

    // (d) a StateCommit state stamped by a different layout generation
    val dir4 = tmp("lv4").resolve("state").toString
    StateCommit.applyBatch(spark, dir4, 0L)(_ => Seq((1L, 1L)).toDF("k", "n"))
    assert(Files.readString(new java.io.File(dir4 + ".layout").toPath).trim
      === StateCommit.LayoutId)
    Files.writeString(new java.io.File(dir4 + ".layout").toPath, "graft-state-commit v0")
    val eD = intercept[IllegalArgumentException] { StateCommit.state(spark, dir4) }
    assert(eD.getMessage.contains("graft-state-commit v0"))

    // (e) fresh dirs stamp themselves on first write
    val dir5 = tmp("lv5").resolve("state").toString
    AppendState.append(Seq((1L, "a")).toDF("k", "v"), dir5, 0L)
    assert(Files.readString(new java.io.File(dir5, ".layout").toPath).trim
      === AppendState.LayoutId)
    assert(AppendState.raw(spark, dir5).get.count() === 1L)
  }

  test("AppendState.compact crash matrix: a kill in any of the three windows leaves readers correct and the next cycle converges") {
    // compact's protocol is write-fresh-base → atomic marker flip → retire
    // old dirs; auto-compaction runs it constantly in production streams,
    // so every crash window gets the property pinned, on both layouts.
    for (partitioned <- Seq(false, true)) {
      val cols = if (partitioned) Seq("bucket") else Nil
      def df(rows: (Long, String)*) =
        rows.map { case (k, v) => (k, v, (k % 2).toInt) }.toDF("k", "v", "bucket")
      def content(dir: String): Set[(Long, String)] =
        AppendState.raw(spark, dir).get.select("k", "v").distinct()
          .as[(Long, String)].collect().toSet

      // -- window A: crashed AFTER the fresh base write, BEFORE the flip —
      // an orphan base=1 sits next to live deltas and no marker
      val dA = tmp(s"cwA$partitioned").resolve("state").toString
      AppendState.append(df(1L -> "a"), dA, 0L, cols)
      AppendState.append(df(2L -> "b"), dA, 1L, cols)
      df(1L -> "a", 2L -> "b").write.parquet(s"$dA/base=1") // the torn fold
      assert(AppendState.baseId(dA) === -1L) // no flip: the orphan is garbage
      assert(content(dA) === Set(1L -> "a", 2L -> "b")) // readers unaffected
      AppendState.compact(spark, dA, _.distinct(), cols) // redoes the fold
      assert(AppendState.baseId(dA) === 1L)
      assert(AppendState.deltaIds(dA).isEmpty)
      assert(content(dA) === Set(1L -> "a", 2L -> "b"))

      // -- windows B and C: crashed AFTER the flip, with all (B) or some
      // (C) folded deltas not yet retired, plus the superseded old base
      for (keepDeltas <- Seq(Seq(0L, 1L), Seq(0L))) {
        val d = tmp(s"cw$keepDeltas$partitioned").resolve("state").toString
        AppendState.append(df(1L -> "a"), d, 0L, cols)
        AppendState.compact(spark, d, _.distinct(), cols) // old base=0
        AppendState.append(df(2L -> "b"), d, 1L, cols)
        // a real fold to base=1 happened and the marker flipped...
        AppendState.compact(spark, d, _.distinct(), cols)
        assert(AppendState.baseId(d) === 1L)
        // ...but the crash left stale dirs behind: resurrect them
        keepDeltas.foreach(id => df(id + 1L -> (if (id == 0) "a" else "b"))
          .write.parquet(s"$d/delta=$id"))
        df(1L -> "a").write.parquet(s"$d/base=0")
        // readers resolve through the marker: stale dirs are invisible
        assert(AppendState.deltaIds(d).isEmpty)
        assert(content(d) === Set(1L -> "a", 2L -> "b"))
        // the next append+fold cycle retires ALL of them (the listing
        // sweep — the folded set alone would never revisit ids ≤ marker)
        AppendState.append(df(3L -> "c"), d, 2L, cols)
        AppendState.compact(spark, d, _.distinct(), cols)
        assert(AppendState.baseId(d) === 2L)
        assert(content(d) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
        val left = new java.io.File(d).listFiles().map(_.getName)
          .filter(n => n.startsWith("delta=") || n.startsWith("base="))
        assert(left.toSeq === Seq("base=2"),
          s"stale fold dirs must be swept, got ${left.mkString(",")}")
      }
    }
  }

  test("StateCommit: a legacy flat-layout state dir restarts and migrates into the versioned layout") {
    val dir = tmp("scleg").resolve("state").toString
    // the pre-versioning layout: state in the flat dir, marker alongside
    Seq((1L, 10L), (2L, 20L)).toDF("k", "n").write.parquet(dir)
    Files.writeString(new java.io.File(dir + ".applied").toPath, "3")

    assert(StateCommit.lastApplied(dir) === 3L)
    assert(StateCommit.state(spark, dir).as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 20L)))

    // the next batch merges FROM the legacy dir and commits versioned
    StateCommit.applyBatch(spark, dir, 5L) { base =>
      base.get.unionByName(Seq((3L, 30L)).toDF("k", "n"))
    }
    assert(StateCommit.lastApplied(dir) === 5L)
    assert(new java.io.File(dir + ".v5").exists())
    assert(StateCommit.state(spark, dir).as[(Long, Long)].collect().toSet
      === Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }
}
