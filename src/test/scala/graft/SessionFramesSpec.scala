package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The session-frame registry: a shared frame follows its fixture and its
  * SparkContext, and no other file grows a cache of its own. The
  * session-restart test stops the shared session, so it runs last. */
class SessionFramesSpec extends SparkSpec {
  private val fixture = Paths.get("/root/testdata/sf0.001")

  /** A private copy of the fixture's documents table. */
  private def copyDocuments(): String = {
    val dir = Files.createTempDirectory("graft-fixture-")
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
    val fresh = Files.createTempDirectory("graft-fixture-").toString
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
