package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** The monitor skeleton ([[Monitor]]): it is the only place a stream is
  * opened, triggered or committed additively, and a documents monitor's
  * batches are listed on the driver like the CDC pipeline's. */
class MonitorSpec extends SparkSpec {
  import spark.implicits._

  test("only the skeleton opens, triggers and commits a monitor's stream") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val rules = Seq(
      ("writeStream", """\.writeStream\b""".r, Set("Monitor.scala")),
      ("a trigger", """\bTrigger\.""".r, Set("Monitor.scala")),
      ("readStream", """\.readStream\b""".r, Set("Monitor.scala", "MongoSource.scala")),
      ("StateCommit.applyBatch", """\bStateCommit\.applyBatch\b""".r,
        Set("Monitor.scala", "CdcPipeline.scala")))
    val offences = for {
      p <- Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      src = new String(Files.readAllBytes(p), "UTF-8")
      (what, re, allowed) <- rules
      if !allowed(p.getFileName.toString) && re.findFirstIn(src).isDefined
    } yield s"$p: $what outside ${allowed.mkString(" / ")}"
    assert(offences.isEmpty, offences.mkString("\n"))
  }

  /** The commit steps both state protocols share, each with the files
    * allowed to hold it and how many code lines there: the atomic rename
    * in the one text write and in `AppendState.append`'s delta publish,
    * the one file delete (inside the recursive `deleteTree`), and the one
    * bucket `pmod(` of the posting index. */
  private val sharedSteps = Seq(
    ("ATOMIC_MOVE", """\bATOMIC_MOVE\b""".r, Map("StateCommit.scala" -> 1, "AppendState.scala" -> 1)),
    ("a file delete", """\.delete\(\)""".r, Map("StateCommit.scala" -> 1)),
    ("a bucket pmod(", """pmod\(.*Buckets""".r, Map("Monitor.scala" -> 1)))

  /** `src`'s code lines: comment lines and trailing `//` comments dropped. */
  private def codeLines(src: String): Seq[String] =
    src.split("\n").toSeq.map(_.replaceAll("""\s//.*$""", ""))
      .filterNot(l => Seq("//", "/*", "*").exists(l.trim.startsWith))

  /** Every (file, step) whose count of code lines differs from the
    * allowed one. */
  private def stepCopies(files: Seq[(String, String)]): Seq[String] =
    for {
      (name, src) <- files
      code = codeLines(src)
      (what, re, allowed) <- sharedSteps
      n = code.count(l => re.findFirstIn(l).isDefined)
      if n != allowed.getOrElse(name, 0)
    } yield s"$name: $what on $n lines, allowed ${allowed.getOrElse(name, 0)}"

  test("each shared commit step is written once in streaming/") {
    val planted = Seq("TopkStream.scala" ->
      """  /** a copy in a comment is not code: ATOMIC_MOVE, f.delete() */
        |  private def publish(tmp: File, to: File): Unit = // ATOMIC_MOVE
        |    Files.move(tmp.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
        |  private def rm(f: File): Unit = {
        |    if (f.isDirectory) f.listFiles().foreach(rm)
        |    f.delete(); ()
        |  }
        |  private def bucketed(df: DataFrame) =
        |    df.withColumn("bucket", pmod(col("k"), lit(IndexBuckets.toLong)))
        |""".stripMargin)
    assert(stepCopies(planted) === Seq(
      "TopkStream.scala: ATOMIC_MOVE on 1 lines, allowed 0",
      "TopkStream.scala: a file delete on 1 lines, allowed 0",
      "TopkStream.scala: a bucket pmod( on 1 lines, allowed 0"))
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8")).toSeq
    assert(files.map(_._1).contains("StateCommit.scala"))
    val copies = stepCopies(files)
    assert(copies.isEmpty, copies.mkString("\n"))
  }

  /** Twins a kind's slice or merge may still call: they take a parameter
    * the kind fixes, and a test drives them with another value. */
  private val keptTwins = Map("HeavyHittersStream.scala" -> Set("mergeSketch"))

  /** Every place a monitor's batch form is rebuilt by hand instead of
    * going through its kind's `batchAnswer`: a `limit(0)` seed or a
    * doubling (a frame unioned with itself) other than the one
    * `twoDeliveries` helper in `queries` (StreamQueries.scala), a
    * `limit(0)` in `streaming` outside the kinds (Monitor.scala) and the
    * near-dup monitor's own commit, and a `slice`/`merge` whose one-line
    * body calls another public def of `streaming`, a twin. A def with an
    * access modifier is not public, so a kind member may call it. */
  private def handBuiltBatchForms(queries: String, streaming: Seq[(String, String)]): Seq[String] = {
    val q = codeLines(queries)
    val seeds = q.count(_.contains("limit(0)"))
    val doubling = """\b(\w+)\.union(?:ByName)?\(\s*\1\s*\)""".r
    val doublings = q.count(l => doubling.findFirstIn(l).isDefined)
    val publicDefs = streaming.flatMap { case (_, src) =>
      """(?m)^[ \t]*((?:private|protected)\b\S*\s+)?(?:override\s+)?(?:final\s+)?def\s+(\w+)""".r
        .findAllMatchIn(src).filter(_.group(1) == null).map(_.group(2))
    }.toSet -- Set("slice", "merge")
    val forwarder = """\bdef (slice|merge)\(.*\)\s*:\s*DataFrame\s*=\s*(?:[A-Z]\w*\.)?(\w+)\(.*\)\s*$""".r
    (if (seeds > 0) Seq(s"StreamQueries.scala: limit(0) on $seeds lines") else Nil) ++
      (if (doublings > 1) Seq(s"StreamQueries.scala: a self-union on $doublings lines, allowed 1")
       else Nil) ++
      streaming.flatMap { case (name, src) =>
        val code = codeLines(src)
        val n = code.count(_.contains("limit(0)"))
        (if (n > 0 && !Set("Monitor.scala", "NeardupStream.scala")(name))
           Seq(s"$name: limit(0) on $n lines") else Nil) ++
          code.flatMap(l => forwarder.findFirstMatchIn(l)).collect {
            case m if publicDefs(m.group(2)) && !keptTwins.getOrElse(name, Set.empty[String])(m.group(2)) =>
              s"$name: ${m.group(1)} forwards to ${m.group(2)}"
          }
      }
  }

  test("each monitor's batch form is its kind's batchAnswer, with no slice or merge twin") {
    val plantedQueries =
      """  private def twoDeliveries(rows: DataFrame) = rows.unionByName(rows)
        |  private val streamTopk: Q = (s, d) => {
        |    val once = TopkStream.mergeCounts(raw.limit(0), raw) // limit(0) in a comment is not code
        |    once.unionByName(once)
        |  }
        |  private val streamBoth: Q = (s, d) => legA.unionByName(legB).union(legA.union(legA))
        |""".stripMargin
    val plantedStreaming = Seq(
      "TopkStream.scala" ->
        """  def merge(state: DataFrame, slice: DataFrame): DataFrame = mergeCounts(state, slice)
          |  def mergeCounts(state: DataFrame, slice: DataFrame): DataFrame =
          |    state.unionByName(slice).groupBy(col("day")).agg(sum(col("n")).as("n"))
          |  def slice(events: DataFrame): DataFrame = events.limit(0)
          |  private[graft] def mergeRows(state: DataFrame, slice: DataFrame): DataFrame = state
          |""".stripMargin,
      "BenfordStream.scala" ->
        """  def merge(state: DataFrame, slice: DataFrame): DataFrame = mergeRows(state, slice)
          |""".stripMargin,
      "HeavyHittersStream.scala" ->
        """  def merge(state: DataFrame, slice: DataFrame): DataFrame = mergeSketch(state, slice, K)
          |  def mergeSketch(state: DataFrame, slice: DataFrame, k: Int): DataFrame = state
          |""".stripMargin)
    assert(handBuiltBatchForms(plantedQueries, plantedStreaming) === Seq(
      "StreamQueries.scala: limit(0) on 1 lines",
      "StreamQueries.scala: a self-union on 3 lines, allowed 1",
      "TopkStream.scala: limit(0) on 1 lines",
      "TopkStream.scala: merge forwards to mergeCounts"))
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")
    val streaming = Files.list(root.resolve("streaming")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(p => p.getFileName.toString -> read(p)).toSeq
    assert(streaming.map(_._1).contains("Monitor.scala"))
    val found = handBuiltBatchForms(read(root.resolve("queries/StreamQueries.scala")), streaming)
    assert(found.isEmpty, found.mkString("\n"))
  }

  /** A per-day or per-(day, type) event count: a groupBy on the event
    * day, alone or with the type, whose aggregate (on that line or the
    * next) is a count. A grid with more keys is another fact. */
  private val dailyCount =
    """groupBy\((?:col\("event_type"\),\s*)?to_date\(col\("ts"\)\)\.as\("day"\)(?:,\s*col\("event_type"\))?\)""".r

  private def linesWith(re: scala.util.matching.Regex)(code: Seq[String]): Int =
    code.count(l => re.findFirstIn(l).isDefined)

  /** Facts with one definition that batch queries and monitors share, each
    * with the files (under `graft/`) allowed to hold its code lines, how
    * many, and where a copy is looked for: the (day, type) count is
    * `TopkStream.slice` and the per-day count one `CdcQueries` helper; the
    * σ-rule moments are one `TimeSeries` helper; and two monitor reports
    * that batch twins used to copy may not reappear in `queries/`. */
  private val oneDefinition: Seq[(String, Seq[String] => Int, String => Boolean, Map[String, Int])] =
    Seq(
      ("a daily event count", code => code.indices.count(i =>
        dailyCount.findFirstIn(code(i)).isDefined &&
          """\bcount\(""".r.findFirstIn(code(i) + code.lift(i + 1).getOrElse("")).isDefined),
        _ => true, Map("streaming/TopkStream.scala" -> 1, "queries/CdcQueries.scala" -> 1)),
      ("__SS", linesWith("""__SS""".r), _ => true, Map("operators/TimeSeries.scala" -> 2)),
      ("QuantilesStream's report body", linesWith("""\$p \* __n \+ 999\) div 1000""".r),
        _.startsWith("queries/"), Map.empty),
      ("LengthProfileStream's report body", linesWith("""madOutliers\(.*"n_tok"""".r),
        _.startsWith("queries/"), Map.empty))

  /** Every (file, fact) whose count of code lines differs from the allowed
    * one, over the files in scope. */
  private def forkedDefinitions(files: Seq[(String, String)]): Seq[String] =
    for {
      (name, src) <- files
      code = codeLines(src)
      (what, lines, inScope, allowed) <- oneDefinition
      if inScope(name)
      n = lines(code)
      if n != allowed.getOrElse(name, 0)
    } yield s"$name: $what on $n lines, allowed ${allowed.getOrElse(name, 0)}"

  test("each daily count, σ-rule moment and copied monitor report has one definition") {
    val planted = Seq(
      "queries/CdcQueries.scala" ->
        """  private def dayCounts(s: SparkSession, d: String): DataFrame =
          |    events(s, d).groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
          |  private val windowHolt: Q = (s, d) => holt(events(s, d)
          |    .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          |    .agg(count(lit(1)).as("n")))
          |  // a comment is not code: .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)))
          |  private val grid = events.groupBy(col("event_type"), to_date(col("ts")).as("day"),
          |    col("vbucket")).agg(count(lit(1)).as("n"))
          |  private val stats = daily.agg(sum(col("n") * col("n")).as("__SS"))
          |  def q(p: Int) = min(when(col("cum") >= expr(s"($p * __n + 999) div 1000"), col("c")))
          |""".stripMargin,
      "queries/ExtQueries.scala" ->
        """    graft.operators.Robust.madOutliers(hist, "source", "n_tok")
          |""".stripMargin,
      "streaming/LengthProfileStream.scala" ->
        """    graft.operators.Robust.madOutliers(hist, "source", "n_tok")
          |""".stripMargin,
      "operators/TimeSeries.scala" ->
        """      sum(col("n") * col("n")).as("__SS")))
          |  val varNum: Column = dec(col("__D")) * dec(col("__SS")) - dec(col("__S")) * dec(col("__S"))
          |""".stripMargin)
    assert(forkedDefinitions(planted) === Seq(
      "queries/CdcQueries.scala: a daily event count on 2 lines, allowed 1",
      "queries/CdcQueries.scala: __SS on 1 lines, allowed 0",
      "queries/CdcQueries.scala: QuantilesStream's report body on 1 lines, allowed 0",
      "queries/ExtQueries.scala: LengthProfileStream's report body on 1 lines, allowed 0"))
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8")).toSeq
    assert(files.map(_._1).contains("queries/CdcQueries.scala"))
    val found = forkedDefinitions(files)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a documents monitor lists a batch of more than 32 files on the driver, on start and on restart") {
    val root = tmp("monitor-listing")
    val src = Files.createDirectories(root.resolve("source"))
    val target = root.resolve("target").toString
    val checkpoint = root.resolve("checkpoint").toString
    val files = 40 // over the default parallel-listing threshold of 32

    // each wave lands flat in the source dir while no query runs, so each
    // start takes exactly one batch of `files` files
    def land(wave: Int): Unit = {
      val stage = root.resolve(s"stage-$wave").toString
      (0 until 200).map { i =>
        val id = wave * 1000L + i
        val text = s"opener ${i % 20} shared by a template group doc $id"
        (id, text, "en", if (i / 20 % 2 == 0) "web" else "blog", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(files).write.parquet(stage)
      val parts = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === files)
      parts.zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, src.resolve(s"w$wave-$i.parquet"))
      }
    }

    val descriptions = mutable.ArrayBuffer.empty[String]
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = descriptions.synchronized {
        descriptions += Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
    }
    val listingJobsBefore = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobs)
    try {
      land(0)
      PrefixDupStream.start(spark, src.toString, target, checkpoint).awaitTermination()
      land(1)
      PrefixDupStream.start(spark, src.toString, target, checkpoint).awaitTermination()
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(jobs)

    assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount === listingJobsBefore,
      "a batch's files must be listed on the driver, not by a Spark job")
    assert(!descriptions.exists(_.startsWith("Listing leaf files")), descriptions)
    // both waves landed: every opener groups 20 docs over both sources
    val groups = PrefixDupStream.report(PrefixDupStream.state(spark, target))
      .as[(String, Long, Long, Long)].collect()
    assert(groups.length === 20 && groups.forall(g => g._2 === 20L && g._3 === 2L), groups.toSeq)
  }
}
