package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The JSONL corpus-source adapter: declared-schema parse, corrupt-line
  * quarantine (nothing lost, nothing crashed), contract normalization,
  * and parity with the parquet source through the live ingest stream. */
class JsonlIngestSpec extends SparkSpec {
  import spark.implicits._

  test("jsonlDocs: clean/quarantine split, absent-field backfill, wrong-type lines quarantined") {
    val dir = tmp("jsonl")
    Files.writeString(dir.resolve("part-0.jsonl"),
      Seq(
        // fully-specified row
        """{"doc_id": 1, "text": "a clean document", "lang": "en", "source": "web", "n_chars": 16}""",
        // dump without ids/metadata: absent fields are backfilled
        """{"text": "an id-less document from a raw dump"}""",
        // wrong TYPE: the whole line corrupts under the declared schema
        """{"doc_id": "not-a-number", "text": "typed wrong", "lang": "en", "source": "web", "n_chars": 1}""",
        // unparsable line
        """{"doc_id": 4, "text": "truncated""",
        // parses but has no text: contract violation, quarantined
        """{"doc_id": 5, "lang": "en", "source": "web", "n_chars": 0}""",
        // a NEGATIVE explicit id violates the id contract (the sign bit
        // is the synthesized range) — quarantined, never silently merged
        """{"doc_id": -7, "text": "claims a synthesized-range id", "lang": "en", "source": "web", "n_chars": 29}""").mkString("\n"))

    val raw = CorpusIngest.jsonlDocs(spark, dir.toString)
    val clean = CorpusIngest.cleanDocs(raw)
      .as[(Long, String, String, String, Long)].collect().sortBy(_._2).toSeq
    assert(clean.length === 2)
    assert(clean(0) === ((1L, "a clean document", "en", "web", 16L)))
    val backfilled = clean(1)
    assert(backfilled._2 === "an id-less document from a raw dump")
    // content-addressed id, in the NEGATIVE synthesized range — disjoint
    // by the sign bit from every contract-legal explicit id, so a hash
    // collision with an explicit id is impossible by construction
    assert(backfilled._1 < 0L)
    assert((backfilled._3, backfilled._4, backfilled._5) ===
      (("und", "unknown", backfilled._2.length.toLong)))
    // the backfilled id is a pure function of the text (re-read: same id)
    val again = CorpusIngest.cleanDocs(CorpusIngest.jsonlDocs(spark, dir.toString))
      .filter(col("source") === "unknown").select("doc_id")
      .as[Long].collect().toSeq
    assert(again === Seq(backfilled._1))

    // quarantine carries EVERY excluded line — corrupt ones verbatim
    val q = CorpusIngest.quarantined(raw).as[String].collect().toSeq
    assert(q.length === 4)
    assert(q.exists(_.contains("not-a-number")))
    assert(q.exists(_.contains("truncated")))
    assert(q.exists(_.contains("\"doc_id\":5")))
    assert(q.exists(_.contains("\"doc_id\":-7")))
  }

  test("the live ingest over a JSONL dir converges to the parquet-driven survivor state") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 44L),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "mirror", 44L),
      (3L, "an entirely different second document body text", "en", "web", 48L))

    // parquet-driven run (the fixture path)
    val psrc = tmp("jip-psrc")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(psrc.toString)
    val ptgt = tmp("jip-ptgt").resolve("state").toString
    CorpusIngest.start(spark, psrc.toString, ptgt,
      tmp("jip-pckp").toString).awaitTermination()

    // jsonl-driven run over the SAME rows plus a corrupt line the stream
    // must survive without losing the clean ones
    val jsrc = tmp("jip-jsrc")
    val lines = docs.map { case (id, text, lang, source, n) =>
      s"""{"doc_id": $id, "text": "$text", "lang": "$lang", "source": "$source", "n_chars": $n}"""
    } :+ """{"doc_id": 99, "text": "broken"""
    Files.writeString(jsrc.resolve("dump-0.jsonl"), lines.mkString("\n"))
    val jtgt = tmp("jip-jtgt").resolve("state").toString
    CorpusIngest.start(spark, jsrc.toString, jtgt,
      tmp("jip-jckp").toString, format = "json").awaitTermination()

    def rows(tgt: String) = CorpusIngest.state(spark, tgt)
      .as[(String, Long, String, Double)].collect().sortBy(_._2).toSeq
    assert(rows(jtgt) === rows(ptgt))
    // min-id-wins on the duplicated digest: doc 1 survives, 3 rows in, 2 out
    assert(rows(jtgt).map(_._2) === Seq(1L, 3L))

    // an unsupported format fails loud, not as an empty stream
    val e = intercept[IllegalArgumentException] {
      CorpusIngest.start(spark, jsrc.toString, jtgt, tmp("jip-x").toString,
        format = "csv")
    }
    assert(e.getMessage.contains("unsupported source format"))
  }

  test("the live json ingest maintains a quarantine LEDGER: rejects visible as state, matching the batch view, replay-stable") {
    val src = tmp("jq-src")
    Files.writeString(src.resolve("dump-0.jsonl"), Seq(
      """{"doc_id": 1, "text": "a perfectly clean first document", "lang": "en", "source": "web", "n_chars": 32}""",
      """{"doc_id": 2, "text": "broken""",
      """{"doc_id": 3, "lang": "en", "source": "web", "n_chars": 0}""",
      """{"doc_id": -4, "text": "negative explicit id", "lang": "en", "source": "web", "n_chars": 20}""").mkString("\n"))
    val tgt = tmp("jq-tgt").resolve("state").toString
    val ckp = tmp("jq-ckp").toString
    CorpusIngest.start(spark, src.toString, tgt, ckp, format = "json")
      .awaitTermination()

    // the ledger carries the SAME raw lines the batch view computes...
    val batchView = CorpusIngest.quarantined(
      CorpusIngest.jsonlDocs(spark, src.toString)).as[String].collect().toSet
    val live = CorpusIngest.quarantineState(spark, tgt)
    val liveRows = live.as[(String, String, Long)].collect().toSeq
    assert(liveRows.map(_._1).toSet === batchView)
    assert(liveRows.size === 3)
    // ...plus the provenance a live ingest owes its operator: which file,
    // which batch
    assert(liveRows.forall(_._2.contains("dump-0.jsonl")))
    assert(liveRows.forall(_._3 === 0L))
    // survivors are untouched by the split
    assert(CorpusIngest.state(spark, tgt).select("doc_id")
      .as[Long].collect().toSeq === Seq(1L))

    // a checkpoint replay (fresh stream, same checkpoint) re-reads nothing
    // new and must not double the ledger
    CorpusIngest.start(spark, src.toString, tgt, ckp, format = "json")
      .awaitTermination()
    assert(CorpusIngest.quarantineState(spark, tgt).count() === 3L)

    // a second dump arriving later lands under its own batch id, and a
    // CLEAN batch appends nothing
    Files.writeString(src.resolve("dump-1.jsonl"),
      """{"doc_id": 9, "text": "broken again""" + "\n" +
        """{"doc_id": 10, "text": "a clean follow-up document", "lang": "en", "source": "web", "n_chars": 26}""")
    CorpusIngest.start(spark, src.toString, tgt, ckp, format = "json")
      .awaitTermination()
    val after = CorpusIngest.quarantineState(spark, tgt)
      .as[(String, String, Long)].collect().toSeq
    assert(after.size === 4)
    assert(after.count(_._2.contains("dump-1.jsonl")) === 1)
    Files.writeString(src.resolve("dump-2.jsonl"),
      """{"doc_id": 11, "text": "an entirely clean third dump", "lang": "en", "source": "web", "n_chars": 28}""")
    CorpusIngest.start(spark, src.toString, tgt, ckp, format = "json")
      .awaitTermination()
    assert(CorpusIngest.quarantineState(spark, tgt).count() === 4L)
    assert(CorpusIngest.state(spark, tgt).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 10L, 11L))
  }
}
