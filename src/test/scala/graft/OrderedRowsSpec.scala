package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Tables.orderedRows]]: the final sort of a one-partition input runs in
  * place (no range-sampling job, no range exchange) and returns the same
  * rows, in the same order, as `orderBy`; any other input keeps the range
  * sort. */
class OrderedRowsSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  /** A sort whose order is not the file's: length descending, id ascending. */
  private val keys = Seq(col("n_chars").desc, col("doc_id"))

  private def docs: DataFrame =
    Tables.documents(spark, d).select(col("doc_id"), col("n_chars"), col("lang"))
      .filter(col("lang").isNotNull)

  private def rangeExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning")

  test("a one-split table sorts in place and returns orderBy's rows row for row") {
    val out = Tables.orderedRows(docs, keys: _*)
    val rows = out.collect().toSeq
    assert(rows === docs.orderBy(keys: _*).collect().toSeq)
    assert(rows.nonEmpty)
    assert(!rangeExchange(out), s"range exchange over a one-split scan:\n${out.queryExecution.executedPlan}")
  }

  test("an input of 3 partitions keeps the range exchange and the same rows") {
    val split = docs.repartition(3)
    val out = Tables.orderedRows(split, keys: _*)
    assert(out.collect().toSeq === docs.orderBy(keys: _*).collect().toSeq)
    assert(rangeExchange(out), s"no range exchange over 3 partitions:\n${out.queryExecution.executedPlan}")
  }

  test("a one-partition checkpoint and the streamed side of a broadcast join sort in place") {
    val frame = docs.coalesce(1).localCheckpoint(eager = true)
    val small = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    val stats = docs.agg(max(col("n_chars")).as("mx")) // keyless: a broadcast nested-loop join
    for (df <- Seq(frame, docs.join(broadcast(small), Seq("doc_id"), "left_anti"),
        docs.crossJoin(broadcast(stats)))) {
      val out = Tables.orderedRows(df, keys: _*)
      assert(!rangeExchange(out), s"range exchange:\n${out.queryExecution.executedPlan}")
      assert(out.collect().toSeq === df.orderBy(keys: _*).collect().toSeq)
    }
    // a shuffle below the sort is not narrow, and an unhinted join may
    // shuffle: the range sort stays
    val grouped = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(rangeExchange(Tables.orderedRows(grouped, "lang")))
    val unhinted = docs.join(docs.repartition(3, col("doc_id")).select(col("doc_id")), Seq("doc_id"))
    assert(rangeExchange(Tables.orderedRows(unhinted, keys: _*)))
  }

  test("calling the helper runs no Spark job and neither optimizes nor plans its input") {
    val frame = docs.coalesce(1).localCheckpoint(eager = true)
    for (df <- Seq(docs, frame, docs.repartition(3))) {
      val (_, jobs) = jobsIn(Tables.orderedRows(df, keys: _*))
      assert(jobs === 0)
    }
    for (df <- Seq(docs, docs.repartition(3))) {
      Tables.orderedRows(df, keys: _*)
      val phases = df.queryExecution.tracker.phases.keySet
      assert(!phases.contains("optimization") && !phases.contains("planning"), s"phases run: $phases")
    }
  }

  test("a warm run of each one-partition llm_ops query runs its write job alone") {
    // ext_dedup_keep also runs its broadcast of the drop list
    val expected = Seq("ext_quality_gopher" -> 1, "ext_text_repetition" -> 1,
      "ext_embed_quantize" -> 1, "ext_sim_knn_ivf_cells" -> 1, "ext_dedup_cluster" -> 1,
      "ext_dedup_keep" -> 2)
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, d).write.format("noop").mode("overwrite").save()
    for ((name, want) <- expected) {
      run(name)
      val (_, jobs) = jobsIn(run(name))
      assert(jobs === want, s"a warm $name run ran $jobs Spark job(s)")
    }
  }

  /** Line numbers of the `.orderBy(`/`.sort(` calls in `src` that are
    * neither a window spec (`Window.` heads the chain) nor a cut the
    * driver takes (the chain goes on to `.limit(` or `.collect()`): the
    * final sorts that should go through the helper. */
  private def rawFinalSorts(src: String): Seq[Int] = {
    val lines = src.split("\n", -1).toIndexedSeq
    def cont(k: Int) = k < lines.size && lines(k).trim.startsWith(".")
    lines.indices.flatMap { i =>
      """\.(orderBy|sort)\(""".r.findAllMatchIn(lines(i)).filterNot { m =>
        val h = (i to 0 by -1).find(k => !cont(k)).getOrElse(0)
        val head = (h until i).map(lines).mkString + lines(i).take(m.start + 1)
        val t = (i + 1 to lines.size).find(k => !cont(k)).get
        val tail = lines(i).drop(m.end) + (i + 1 until t).map(lines).mkString
        head.contains("Window.") || tail.contains(".limit(") || tail.contains(".collect()")
      }.map(_ => i + 1)
    }
  }

  /** The raw final sorts of the sources under `src/main/scala/graft/<dir>`,
    * as `file:line`. */
  private def rawFinalSortsIn(dir: String): Seq[String] = {
    val root = Paths.get(s"src/main/scala/graft/$dir")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.list(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    files.flatMap { p =>
      rawFinalSorts(new String(Files.readAllBytes(p), "UTF-8")).map(n => s"${p.getFileName}:$n")
    }
  }

  test("every query-final Dataset sort in queries/ goes through orderedRows") {
    val planted =
      """val w = Window.partitionBy(col("a"))
        |  .orderBy(col("b"))
        |val top = df.orderBy(col("a").desc).limit(5)
        |val rank = row_number().over(Window.orderBy(col("a")))
        |df.select(col("a"))
        |  .orderBy(col("a"))
        |""".stripMargin
    assert(rawFinalSorts(planted) === Seq(6))
    val raw = rawFinalSortsIn("queries")
    assert(raw.isEmpty, s"final sorts not through Tables.orderedRows: ${raw.mkString(", ")}")
  }

  // every stream_* query ends in a monitor report, so the report tails in
  // streaming/ are query-final sorts too
  test("every monitor report sort in streaming/ goes through orderedRows") {
    val raw = rawFinalSortsIn("streaming")
    assert(raw.isEmpty, s"final sorts not through Tables.orderedRows: ${raw.mkString(", ")}")
  }
}
