package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

import graft.operators.Knn
import graft.queries.ExtQueries

/** The session-frame registry: a shared frame follows its fixture and its
  * SparkContext, and no other file grows a cache of its own. The tables'
  * inferred schemas are registry values too: a warm open runs no job. The
  * session-restart test stops the shared session, so it runs last. */
class SessionFramesSpec extends SparkSpec {
  private val fixture = Paths.get("/root/testdata/sf0.001")

  /** A private copy of the fixture's documents table. */
  private def copyDocuments(): String = {
    val dir = tmp("graft-fixture-")
    Files.copy(fixture.resolve("documents.parquet"), dir.resolve("documents.parquet"))
    dir.toString
  }

  private def ngramPairs(s: SparkSession, d: String): Set[(Long, Long)] =
    SparkEntry.queries("ext_dedup_ngram")(s, d).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a fixture rewritten at the same path rebuilds its shared frames") {
    val d = copyDocuments()
    val before = ngramPairs(spark, d)
    // new rows: the corpus plus verbatim copies of its five longest docs
    val docsPath = s"$d/documents.parquet"
    val orig = spark.read.parquet(docsPath)
    val copies = orig.orderBy(desc("n_chars"), col("doc_id")).limit(5)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val rows = orig.unionByName(copies).collect().toSeq.asJava
    val planted = copies.select("doc_id").collect().map(r => (r.getLong(0) - 100000L, r.getLong(0))).toSet
    Files.delete(Paths.get(docsPath))
    val fresh = tmp("graft-fixture-").toString
    for (p <- Seq(docsPath, s"$fresh/documents.parquet"))
      spark.createDataFrame(rows, orig.schema).coalesce(1).write.parquet(p)
    val after = ngramPairs(spark, d)
    assert(planted.nonEmpty && !planted.subsetOf(before))
    assert(planted.subsetOf(after), "the shared pair frame still reflects the old rows")
    assert(after === ngramPairs(spark, fresh), "a rewritten fixture must read as a fresh one")
  }

  test("no file but the registry keeps a per-fixture cache or a second drain") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val rules = Seq(
      "ConcurrentHashMap cache keyed by fixture dir" -> """\w*ByDir\s*=\s*new [\w.]*ConcurrentHashMap""".r,
      "computeIfAbsent on the fixture dir" -> """computeIfAbsent\(\s*d\s*,""".r,
      "CacheHandle" -> """\bCacheHandle\b""".r,
      "a second unpersistAll" -> """\bunpersistAll\b""".r)
    val offences = for {
      p <- files if p.getFileName.toString != "SessionFrames.scala"
      src = text(p)
      (what, re) <- rules if re.findFirstIn(src).isDefined
    } yield s"$p: $what"
    val queryMaps = files.filter(_.toString.contains("/queries/"))
      .filter(p => text(p).contains("ConcurrentHashMap")).map(p => s"$p: ConcurrentHashMap in queries/")
    assert(offences.isEmpty && queryMaps.isEmpty, (offences ++ queryMaps).mkString("\n"))
    // one drain: each main calls SessionFrames.release and nothing else
    for (main <- Seq("Bench", "Verify", "Profile")) {
      val src = text(root.resolve(s"graft/$main.scala"))
      assert(src.contains("SessionFrames.release(spark)"), s"$main does not drain via release")
      assert(!src.contains("clearCache"), s"$main drains outside SessionFrames.release")
    }
  }

  test("a warm open of every fixture table runs no Spark job") {
    val d = fixture.toString
    val first = Tables.all.map(t => Tables.table(spark, d, t).schema)
    val (again, jobs) = jobsIn(Tables.all.map(t => Tables.table(spark, d, t).schema))
    assert(jobs === 0, "a warm table open re-ran schema inference")
    assert(again === first)
  }

  test("a table opened before the first events read is not inferred again after it") {
    // a fixture of its own and a session with the nanos flag unarmed, so
    // nothing cached by an earlier test can answer the second open
    val d = tmp("graft-fixture-")
    for (t <- Seq("region", "events")) Files.copy(fixture.resolve(s"$t.parquet"), d.resolve(s"$t.parquet"))
    val s = spark.newSession()
    Tables.region(s, d.toString)
    Tables.events(s, d.toString)
    val (_, jobs) = jobsIn(Tables.region(s, d.toString).schema)
    assert(jobs === 0, "the events read re-keyed the region schema")
  }

  test("a table rewritten at the same path with a new column shows it on the next open") {
    val d = copyDocuments()
    val path = s"$d/documents.parquet"
    val before = Tables.documents(spark, d)
    assert(!before.columns.contains("extra"))
    val widened = before.withColumn("extra", col("doc_id") * 2)
    val rows = widened.collect().toSeq.asJava
    Files.delete(Paths.get(path))
    spark.createDataFrame(rows, widened.schema).coalesce(1).write.parquet(path)
    val after = Tables.documents(spark, d)
    assert(after.schema("extra").dataType === LongType)
    assert(after.filter(col("extra") =!= col("doc_id") * 2).isEmpty)
  }

  test("flipping an inference conf re-infers the schema on the next open") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser

    // written without Spark's schema metadata, which inference would
    // otherwise prefer to the parquet types: a plain BINARY column is the
    // one binaryAsString decides
    val d = tmp("graft-fixture-").toString
    val schema = MessageTypeParser.parseMessageType(
      "message region { required int64 id; required binary payload; }")
    val groups = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new HPath(s"file://$d/region.parquet"))
      .withType(schema).build()
    try (0 until 3).foreach(i => writer.write(groups.newGroup().append("id", i.toLong)
      .append("payload", i.toString)))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    def payload() = Tables.region(spark, d).schema("payload").dataType
    try {
      spark.conf.set(key, "false")
      assert(payload() === BinaryType)
      spark.conf.set(key, "true")
      assert(payload() === StringType, "served the schema inferred with binaryAsString off")
      assert(Tables.region(spark, d).orderBy("id").collect().map(_.getString(1)).toSeq ===
        Seq("0", "1", "2"))
      spark.conf.set(key, "false")
      assert(payload() === BinaryType)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("warm builds of ext_quality_gopher and ext_sim_knn_ivf_cells run no Spark job") {
    val d = fixture.toString
    for (name <- Seq("ext_quality_gopher", "ext_sim_knn_ivf_cells")) {
      SparkEntry.queries(name)(spark, d)
      val (_, jobs) = jobsIn(SparkEntry.queries(name)(spark, d))
      assert(jobs === 0, s"a warm $name build ran $jobs Spark job(s)")
    }
    // the shared codebook assigns exactly as training the quantizer inline
    val cells = SparkEntry.queries("ext_sim_knn_ivf_cells")(spark, d).collect().toSeq
    val inline = Knn.ivfCellsInt(Tables.embeddings(spark, d), "vec_id", "embedding",
      ExtQueries.IvfCells, ExtQueries.IvfIters, ExtQueries.IvfSampleN).orderBy("vec_id")
    assert(cells === inline.collect().toSeq)
  }

  test("no file but Tables opens a fixture table by its file name") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val opens = Tables.all.map(t => t -> raw"""[/"]$t\.parquet"""".r)
    val offences = for {
      p <- Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      if p.getFileName.toString != "Tables.scala"
      (t, re) <- opens if re.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    } yield s"$p: opens $t.parquet outside Tables"
    assert(offences.isEmpty, offences.mkString("\n"))
  }

  test("a restarted session rebuilds shared frames instead of touching the dead context") {
    val d = copyDocuments()
    val old = SparkSpec.session
    val first = ngramPairs(old, d)
    assert(first.nonEmpty)
    old.stop()
    val restarted = SparkSpec.session
    assert(!restarted.sparkContext.isStopped && (restarted.sparkContext ne old.sparkContext))
    assert(ngramPairs(restarted, d) === first)
  }
}
