package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.queries.ExtQueries

/** Round-8 [EXT] additions: PII scanning, corpus bigram counts, int8
  * embedding quantization. The fixture corpus is clean prose, so the oracle
  * gate pins the zero/aggregate cases; these specs plant the signals. */
class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("gopherQuality trips exactly the planted rule per doc") {
    val goodWords = Seq("the", "of", "and") ++ (1 to 47).map(i => s"word$i")
    val good = goodWords.mkString(" ") // 50 tokens, 2+ stopwords, alpha, no symbols
    val d = docs(
      (0L, good),
      (1L, "the of short"),                                   // < 50 tokens
      (2L, (Seq("the", "of") ++ (1 to 48).map(_ => "x")).mkString(" ")),   // mean len 1.12 < 3
      (3L, (goodWords :+ ("#" * 7).mkString).mkString(" ")),  // 7 hashes / 51 tokens > 0.1
      (4L, (Seq("the", "of") ++ (1 to 48).map(i => s"$i...")).mkString(" ")), // digits: alpha 2/50
      (5L, (1 to 50).map(i => s"word$i").mkString(" ")))      // no stopwords
    val got = ExtQueries.gopherQuality(d)
      .select("doc_id", "pass_len", "pass_word_len", "pass_symbol",
        "pass_alpha", "pass_stop", "pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, true, true, true, true, true, true)))
    assert((got(1L)._2, got(1L)._7) === ((false, false)))
    assert((got(2L)._3, got(2L)._7) === ((false, false)))
    assert((got(3L)._4, got(3L)._7) === ((false, false)))
    assert((got(4L)._5, got(4L)._7) === ((false, false)))
    assert((got(5L)._6, got(5L)._7) === ((false, false)))
  }

  test("multiTokenSetCount matches per-set tokenSetCount element-wise in one scan") {
    import graft.functions.TextFns
    val sets = TextFns.langOrder.map(TextFns.stopwords)
    val d = docs(
      (0L, "the de la of und que el est in le"), // words shared across languages
      (1L, "的 是 在 and the"),                    // multi-byte + en mix
      (2L, ""),                                   // empty string (one empty token)
      (3L, "no stop words here at all"),
      (4L, "the the the und und 的"))             // repeats count every occurrence
    val fused = d.select(col("doc_id"),
      TextFns.multiTokenSetCount(col("text"), sets).as("h"))
      .as[(Long, Seq[Long])].collect().toMap
    val single = d.select(col("doc_id") +:
      sets.zipWithIndex.map { case (s2, i) =>
        TextFns.tokenSetCount(col("text"), s2).as(s"c$i") }: _*)
      .collect().map(r => r.getLong(0) -> sets.indices.map(i => r.getLong(i + 1))).toMap
    assert(fused.keySet === single.keySet)
    fused.foreach { case (id, arr) => assert(arr === single(id), s"doc $id") }
  }

  test("tokenSqFreqSum matches the explode-aggregate Σc² bit for bit") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "a a a a"),                       // one token, c=4 → 16
      (1L, "a b c d"),                       // all distinct → 4
      (2L, ""),                              // one empty token → 1
      (3L, "x y x y x"),                     // 3² + 2² = 13
      (4L, "的 的 and the 的"))               // multi-byte repeats → 9+1+1
    val fused = d.select(col("doc_id"), TextFns.tokenSqFreqSum(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val ref = d.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").count()
      .groupBy("doc_id").agg(sum(col("count") * col("count")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(fused === ref)
    assert(fused(0L) === 16L && fused(1L) === 4L && fused(2L) === 1L
      && fused(3L) === 13L && fused(4L) === 11L)
  }

  test("policyFilter trips exactly the planted rule per doc") {
    val clean = (1 to 30).map(i => s"word$i").mkString(" ") // 30 tokens, no phrases
    val d = docs(
      (0L, clean),
      (1L, "too short doc"),                                    // < 20 tokens
      (2L, (1 to 99).map(i => s"w$i").mkString(" ")),           // > 80 tokens
      (3L, clean + " vector stuff and a slow scan ahead"),      // 2 blocklist hits
      (4L, clean + " vector vector"))                           // 2 hits, same phrase
    val got = ExtQueries.policyFilter(d)
      .select("doc_id", "n_tokens", "n_blocked_hits",
        "pass_bounds", "pass_blocklist", "pass")
      .as[(Long, Long, Long, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(0L) === ((0L, 30L, 0L, true, true, true)))
    assert((got(1L)._4, got(1L)._6) === ((false, false)))
    assert((got(2L)._4, got(2L)._6) === ((false, false)))
    assert((got(3L)._3, got(3L)._5, got(3L)._6) === ((2L, false, false)))
    assert((got(4L)._3, got(4L)._5, got(4L)._6) === ((2L, false, false)))
  }

  test("piiScan counts and redacts each planted signal class") {
    val d = docs(
      (0L, "write to alice.smith+x@example.co.uk or bob@sub.domain.org today"),
      (1L, "served from 10.0.255.7 and 192.168.1.1 via https://example.com/a?b=1"),
      (2L, "card 1234567890123456 ref 9876543 and short 123456"),
      (3L, "clean text with no signals at all"),
      (4L, ""))
    val got = ExtQueries.piiScan(d)
      .select("doc_id", "n_emails", "n_urls", "n_ipv4", "n_digit_runs",
        "has_pii", "n_redacted_chars")
      .as[(Long, Long, Long, Long, Long, Boolean, Long)].collect().sortBy(_._1)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(0L) === ((0L, 2L, 0L, 0L, 0L, true,
      "write to <EMAIL> or <EMAIL> today".length.toLong)))
    assert(byId(1L) === ((1L, 0L, 1L, 2L, 0L, true,
      "served from <IP> and <IP> via <URL>".length.toLong)))
    // 16-digit card and the 7-digit ref both hit \d{7,}; 123456 (6) does not
    assert(byId(2L) === ((2L, 0L, 0L, 0L, 2L, true,
      "card <NUM> ref <NUM> and short 123456".length.toLong)))
    assert(byId(3L)._6 === false)
    assert(byId(3L)._7 === "clean text with no signals at all".length.toLong)
    assert(byId(4L) === ((4L, 0L, 0L, 0L, 0L, false, 0L)))
  }

  test("multiRegexScan matches the regexp_count + sequential regexp_replace battery") {
    import graft.functions.TextFns
    val classes = Seq(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
      "https?://[^\\s]+" -> "<URL>",
      "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b" -> "<IP>",
      "\\d{7,}" -> "<NUM>")
    val d = docs(
      (0L, "mail a@b.co and c.d@e.org now"),
      // URL CONTAINING an email-shaped substring: counts are independent
      // (both the URL and the inner email match on the ORIGINAL text),
      // while the redaction fold replaces the email first, then the URL
      // pattern re-matches what remains — the exact nested-replace order
      (1L, "see https://x.org/a@b.co/path and 10.1.2.3"),
      (2L, "digits 123456789 inside http://h.io/1234567?q=1"),
      (3L, ""),
      (4L, "plain text only"))
    val fused = d.select(col("doc_id"),
        TextFns.multiRegexScan(col("text"), classes).as("p"))
      .select(col("doc_id"), col("p.counts").as("c"), col("p.redacted").as("r"))
      .as[(Long, Seq[Long], String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val redactedDecl = classes.foldLeft(col("text")) {
      case (acc, (p, r)) => regexp_replace(acc, p, r) }
    val decl = d.select(col("doc_id") +:
        classes.map { case (p, _) => regexp_count(col("text"), lit(p)).cast("long") } :+
        redactedDecl: _*)
      .collect().map(r => r.getLong(0) ->
        ((1 to classes.size).map(r.getLong(_)), r.getString(classes.size + 1))).toMap
    assert(fused.keySet === decl.keySet)
    fused.foreach { case (id, (c, red)) =>
      assert(c === decl(id)._1, s"counts, doc $id")
      assert(red === decl(id)._2, s"redacted, doc $id")
    }
  }

  test("distinctChars matches the token explode → per-char explode inventory") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "the fox"),            // plain
      (1L, "a  b"),               // double space: empty middle token dropped
      (2L, ""),                   // split("") = [""]: empty token, no chars
      (3L, "naïve € déjà naïve"), // multibyte code points, in-doc repeats
      (4L, "x"))                  // single char
    val fused = d.select(explode(TextFns.distinctChars(col("text"))).as("piece"))
      .distinct().as[String].collect().sorted.toSeq
    val decl = d.select(explode(TextFns.tokens(col("text"))).as("token"))
      .filter(char_length(col("token")) >= 1)
      .select(explode(expr(
        "transform(sequence(1, char_length(token)), i -> substring(token, i, 1))"))
        .as("piece"))
      .distinct().as[String].collect().sorted.toSeq
    assert(fused === decl)
  }

  test("tokenTriples matches the guarded transform/element_at trigram fan-out") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "a b c d e"),          // 3 triples
      (1L, "a b c"),              // exactly one
      (2L, "a b"),                // below the guard: none
      (3L, ""),                   // split("") = [""]: one token, none
      (4L, "w w  w w"))           // empty middle token rides along
    val tk = d.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    def rows(src: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      src.select(col("doc_id"), explode(c).as("g"))
        .select(col("doc_id"), col("g.w1"), col("g.w2"), col("g.w3"))
        .as[(Long, String, String, String)].collect().sorted.toSeq
    val fused = rows(tk, TextFns.tokenTriples(col("tk")))
    val decl = rows(tk.filter(size(col("tk")) >= 3),
      expr("transform(sequence(1, size(tk) - 2), i -> struct(" +
        "element_at(tk, i) AS w1, element_at(tk, i + 1) AS w2, " +
        "element_at(tk, i + 2) AS w3))"))
    assert(fused === decl)
  }

  test("tokenBigrams matches the guarded transform/concat bigram fan-out") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "a b c d"),            // 3 bigrams
      (1L, "a b"),                // exactly one
      (2L, "x"),                  // below the guard: none
      (3L, ""),                   // split("") = [""]: one token, none
      (4L, "w  w"))               // empty middle token: "w " and " w"
    val tk = d.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    def rows(c: org.apache.spark.sql.Column) =
      tk.select(col("doc_id"), explode(c).as("b"))
        .as[(Long, String)].collect().sorted.toSeq
    val fused = rows(TextFns.tokenBigrams(col("tk")))
    val decl = rows(when(size(col("tk")) >= 2,
      expr("transform(sequence(1, size(tk) - 1), " +
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
      .otherwise(expr("array()").cast("array<string>")))
    assert(fused === decl)
  }

  test("tokenPrevCur matches the BOS-row transform/element_at fan-out") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "a b c"),              // (NULL,a) (a,b) (b,c)
      (1L, "x"),                  // (NULL,x) only
      (2L, ""),                   // split("") = [""]: one (NULL,"") row
      (3L, "w  w"))               // empty middle token rides along
    val tk = d.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    def rows(c: org.apache.spark.sql.Column) =
      tk.select(col("doc_id"), explode(c).as("bg"))
        .select(col("doc_id"), col("bg.prev"), col("bg.cur"))
        .as[(Long, Option[String], String)].collect().sortBy(r => (r._1, r._2, r._3)).toSeq
    val fused = rows(TextFns.tokenPrevCur(col("tk")))
    val decl = rows(expr(
      "transform(sequence(1, size(tk)), " +
        "i -> struct(CASE WHEN i = 1 THEN CAST(NULL AS STRING) " +
        "ELSE element_at(tk, i - 1) END AS prev, " +
        "element_at(tk, i) AS cur))"))
    assert(fused === decl)
  }

  test("longArrayStats matches the size/filter/aggregate trio") {
    import graft.functions.TextFns
    val base = graft.functions.BpeMerge.MergedIdBase
    val d = Seq(
      (0L, Seq(1L, base, base + 7L, 3L)),  // mixed
      (1L, Seq(base)),                     // all merged
      (2L, Seq(1L, 2L)),                   // none merged
      (3L, Seq.empty[Long]))               // empty array
      .toDF("doc_id", "ids")
    def rows(src: DataFrame) =
      src.as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val fused = rows(d.select(col("doc_id"),
        TextFns.longArrayStats(col("ids"), base).as("__st"))
      .select(col("doc_id"), col("__st.n"), col("__st.n_ge"), col("__st.sum")))
    val decl = rows(d.select(col("doc_id"),
      size(col("ids")).cast("long"),
      size(filter(col("ids"), _ >= base)).cast("long"),
      aggregate(col("ids"), lit(0L), _ + _)))
    assert(fused === decl)
  }

  test("gopherTokenStats matches the declarative Gopher battery") {
    import graft.functions.TextFns
    val set = TextFns.stopwords("en")
    val d = docs(
      (0L, "the quick fox is in the den"), // stopwords the/is/in (the twice → once)
      (1L, ""),                            // split("") = [""]: one empty token
      (2L, "a  b"),                        // double space: empty middle token
      (3L, "42 7 ..."),                    // no alpha tokens
      (4L, "héllo wörld 好 of"),           // multibyte code points count once
      (5L, "x😀y the"),          // astral char: length 3 like Spark length()
      (6L, "the the the the"))             // repeated stopword counts once
    def rows(src: DataFrame) =
      src.as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    val fused = rows(d.select(col("doc_id"),
        TextFns.gopherTokenStats(col("text"), set).as("m"))
      .select(col("doc_id"), col("m.n_tokens"), col("m.sum_len"),
        col("m.n_alpha"), col("m.n_stop")))
    val decl = rows(d.select(col("doc_id"),
        KernelRefs.gopherTokenStatsRef(col("text"), set).as("m"))
      .select(col("doc_id"), col("m.n_tokens"), col("m.sum_len"),
        col("m.n_alpha"), col("m.n_stop")))
    assert(fused === decl)
    // pin the astral-char row against hand-computed values: tokens
    // "x😀y"(len 3: code points) and "the"; one stopword; both alpha
    assert(fused.find(_._1 == 5L).get === ((5L, 2L, 6L, 2L, 1L)))
  }

  test("tokenRepetitionStats matches the explode/groupBy repetition pipeline") {
    import graft.functions.TextFns
    val d = docs(
      (0L, "a b a b a"),          // top token a×3, top bigram "a b"×2
      (1L, "x"),                  // single token: 0 bigrams
      (2L, ""),                   // split("") = [""]: one empty token
      (3L, "a  b"),               // double space: empty middle token, bigrams "a " and " b"
      (4L, "w w w w"))            // all same
    val fused = d.select(col("doc_id"),
        TextFns.tokenRepetitionStats(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_tokens"), col("m.n_distinct"),
        col("m.top_cnt"), col("m.n_bigrams"), col("m.top_big_cnt"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val tk = d.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
    val tokStats = tk.select(col("doc_id"), explode(col("tk")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
    val bigrams = when(size(col("tk")) >= 2,
      expr("transform(sequence(1, size(tk) - 1), " +
        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"))
      .otherwise(expr("array()").cast("array<string>"))
    val bigStats = tk.select(col("doc_id"), explode(bigrams).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cb"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cb")).as("n_bigrams"), max(col("cb")).as("top_big_cnt"))
    val decl = tokStats.join(bigStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_cnt"),
        coalesce(col("n_bigrams"), lit(0L)), coalesce(col("top_big_cnt"), lit(0L)))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(fused === decl)
  }

  test("bigramCounts ranks corpus bigrams by tf with df attached") {
    val d = docs(
      (0L, "a b a b c"), // "a b"×2, "b a", "b c"
      (1L, "a b x"),     // "a b", "b x"
      (2L, "z"),         // no bigrams (single token)
      (3L, ""))          // split("") = [""] → no bigrams
    val got = ExtQueries.bigramCounts(d, k = 10)
      .as[(String, Long, Long)].collect()
    assert(got.head === (("a b", 3L, 2L))) // tf 3 across docs 0 and 1
    assert(got.map(_._1).toSet === Set("a b", "b a", "b c", "b x"))
    // ordered by (tf desc, bigram asc) — deterministic at the k boundary
    assert(got.map(r => (-r._2, r._1)).toSeq === got.map(r => (-r._2, r._1)).sorted)
  }

  test("13-gram contamination flags only cross-source verbatim spans") {
    val span = (1 to 13).map(i => s"w$i").mkString(" ") // one shared 13-gram
    val d = Seq(
      (0L, "train", s"lead in $span trailing words here"),
      (1L, "eval", s"$span completely different tail"),
      (2L, "train", s"$span also in train"), // same-source pair with 0 — excluded
      (3L, "eval", "no overlap with anything else at all beyond twelve tokens only"),
      (4L, "eval", s"alpha $span beta " + span) // shares with 0 and 2; dup span counts once
    ).toDF("doc_id", "source", "text")
    // the registered query is fixture-bound; rebuild the same join/agg over
    // the planted frame with the operator's own building blocks
    val sh = d.select(col("doc_id"), col("source"),
      explode(graft.functions.TextFns.hashedShingles(col("text"), 13)).as("sh"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.source") =!= col("b.source"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .as[(Long, Long, Long)].collect().toSet
    // 0↔1 and 0↔4 share exactly the planted span; 2↔1, 2↔4 cross sources
    // too; 1↔4 same-source eval pair is excluded, as is 0↔2 (both train).
    // 4's text contains the span twice but hashedShingles is distinct per
    // doc, so every overlap counts each 13-gram once
    assert(pairs === Set((0L, 1L, 1L), (0L, 4L, 1L), (1L, 2L, 1L), (2L, 4L, 1L)))
  }

  test("quantizeInt8 clamps, round-half-ups, and zeroes the degenerate vector") {
    val d = Seq(
      (0L, Array(1.0f, -1.0f, 0.5f, 0.0f)),  // scale 1: 127, -127, 64 (63.5 up), 0
      (1L, Array(0.0f, 0.0f)),               // all-zero: scale 0 → zeros, not NaN
      (2L, Array(-2.0f, 1.0f))               // scale 2: -127, 64 (63.5 up)
    ).toDF("vec_id", "embedding")
    val got = d
      .withColumn("scale", VectorFns.absMax(col("embedding")))
      .select(col("vec_id"), col("scale"),
        VectorFns.quantizeInt8(col("embedding"), col("scale")).as("q"))
      .as[(Long, Double, Seq[Long])].collect().sortBy(_._1)
    assert(got(0) === ((0L, 1.0, Seq(127L, -127L, 64L, 0L))))
    assert(got(1) === ((1L, 0.0, Seq(0L, 0L))))
    assert(got(2) === ((2L, 2.0, Seq(-127L, 64L))))
    // round trip: dequantized values sit within half a quantization step
    got.filter(_._2 > 0).foreach { case (id, scale, qs) =>
      val orig = d.filter(col("vec_id") === id)
        .select(col("embedding")).as[Seq[Float]].collect().head
      qs.zip(orig).foreach { case (q, x) =>
        assert(math.abs(q * scale / 127.0 - x) <= scale / 127.0 * 0.5 + 1e-9,
          s"vec $id value $x → $q")
      }
    }
  }

  test("int8QuantStats matches the absMax/quantize/min/max/fold/filter chain") {
    val d = Seq(
      (0L, Array(1.0f, -1.0f, 0.5f, 0.0f)),   // clamp + round-half-up + zero
      (1L, Array(0.0f, 0.0f)),                // degenerate: scale 0 → zeros
      (2L, Array(-2.0f, 1.0f)),
      (3L, Array.empty[Float]),               // empty vector
      (4L, Array(0.00004f, -0.99995f)))       // rounding boundaries
      .toDF("vec_id", "embedding")
    def rows(src: DataFrame) = src
      .as[(Long, Option[Double], Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1).toSeq
    val fused = rows(d
      .select(col("vec_id"), VectorFns.int8QuantStats(col("embedding")).as("m"))
      .select(col("vec_id"), col("m.scale"), col("m.q_min"), col("m.q_max"),
        col("m.q_sum"), col("m.n_sat")))
    val q = col("q")
    val decl = rows(d
      .select(col("vec_id"), col("embedding"),
        VectorFns.absMax(col("embedding")).as("scale"))
      .withColumn("q", VectorFns.quantizeInt8(col("embedding"), col("scale")))
      .select(col("vec_id"), col("scale"),
        array_min(q).as("q_min"), array_max(q).as("q_max"),
        aggregate(q, lit(0L), _ + _).as("q_sum"),
        size(filter(q, x => abs(x) === 127L)).cast("long").as("n_sat")))
    assert(fused === decl)
    // the empty vector pins the null shape explicitly
    assert(fused.find(_._1 == 3L).get ===
      ((3L, None, None, None, Some(0L), Some(0L))))
  }

  test("chunking tiles every token with stride-bounded overlap") {
    val rows = ExtQueries.queries("ext_chunk_docs")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "chunk_id", "tok_start", "tok_end", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val toks = texts(id).split(" ", -1)
      val sorted = cs.sortBy(_._2)
      // chunk ids dense from 0; starts step by the stride; ends clamp at n
      sorted.zipWithIndex.foreach { case ((_, cid, s, e, txt), i) =>
        assert(cid === i.toLong && s === 24L * i, s"doc $id chunk $cid")
        assert(e === math.min(s + 32, toks.length), s"doc $id chunk $cid end")
        // the materialized text IS the token span
        assert(txt === toks.slice(s.toInt, e.toInt).mkString(" "), s"doc $id chunk $cid text")
      }
      // full coverage: last chunk reaches the end, every gap ≤ chunk size
      assert(sorted.last._4 === toks.length.toLong, s"doc $id tail")
      // some doc in the fixture genuinely needs several chunks
    }
    assert(rows.groupBy(_._1).values.exists(_.length > 2))
  }

  test("mix plan factors reproduce target/actual share arithmetic") {
    val got = ExtQueries.queries("ext_mix_plan")(spark, "/root/testdata/sf0.001")
      .select("lang", "n_tokens", "actual_share", "target_permille", "repeat_factor")
      .as[(String, Long, Double, Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq === Seq("de", "en", "es", "fr", "zh"))
    val total = got.map(_._2).sum
    got.foreach { case (lang, n, share, tgt, rf) =>
      assert(tgt === (if (lang == "en") 400L else 150L))
      val exactShare = n.toDouble / total.toDouble
      assert(share === math.floor(exactShare * 10000 + 0.5) / 10000, lang)
      assert(rf === math.floor((tgt.toDouble / 1000.0) / exactShare * 10000 + 0.5) / 10000, lang)
      // oversample factors point the right way relative to the data: a
      // stratum below its target repeats > 1, one above repeats < 1
      if (exactShare < tgt / 1000.0) assert(rf > 1.0, lang) else assert(rf <= 1.0, lang)
    }
  }

  test("the quantization summary matches an independent per-vector computation") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    val got = ExtQueries.queries("ext_embed_quantize")(spark, "/root/testdata/sf0.001")
      .select("vec_id", "scale", "q_min", "q_max", "q_sum", "n_sat")
      .as[(Long, Double, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length === emb.length && got.nonEmpty)
    val expect = emb.map { case (id, xs) =>
      val scale = xs.map(x => math.abs(x.toDouble)).max
      val qs = xs.map { x =>
        if (scale == 0) 0L
        else math.max(-127L, math.min(127L,
          math.floor(x.toDouble / scale * 127.0 + 0.5).toLong))
      }
      (id, math.floor(scale * 10000 + 0.5) / 10000,
        qs.min, qs.max, qs.sum, qs.count(q => math.abs(q) == 127L).toLong)
    }.sortBy(_._1)
    assert(got.toSeq === expect.toSeq)
    // every vector saturates at least once: max |x| quantizes to ±127
    assert(got.forall(_._6 >= 1L))
  }

  test("dedup savings roll cluster token mass up against the labels and keep set") {
    val sf = "/root/testdata/sf0.001"
    val labels = ExtQueries.queries("ext_dedup_cluster")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val ntok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    val got = ExtQueries.queries("ext_dedup_savings")(spark, sf)
      .select("cluster_id", "n_docs", "total_tokens", "kept_tokens", "saved_tokens")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // one row per cluster, totals recomputed independently from the labels
    val byCluster = labels.groupBy(_._2)
    assert(got.map(_._1).toSet === byCluster.keySet)
    got.foreach { case (cid, nDocs, total, kept, saved) =>
      val members = byCluster(cid).keys.toSeq
      assert(nDocs === members.size.toLong, s"cluster $cid")
      assert(total === members.map(ntok).sum, s"cluster $cid total")
      assert(kept === ntok(cid), s"cluster $cid keeps its min-id representative")
      assert(saved === total - kept, s"cluster $cid savings")
      assert(saved > 0L, s"cluster $cid: a duplicate cluster always saves tokens")
    }
    // the savings line a pipeline review quotes: redundant mass exists
    assert(got.map(_._5).sum > 0L)
  }

  test("corpus report rolls the row-level gate queries up per source") {
    val sf = "/root/testdata/sf0.001"
    val meta = Tables.documents(spark, sf)
      .select("doc_id", "source", "lang").as[(Long, String, String)].collect()
    // the two row-level gate queries this report aggregates — both already
    // oracle-pinned, so agreement here chains the report to the gates
    val policy = ExtQueries.queries("ext_filter_policy")(spark, sf)
      .select("doc_id", "n_tokens", "pass_blocklist")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val quality = ExtQueries.queries("ext_quality_score")(spark, sf)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    val got = ExtQueries.queries("ext_corpus_report")(spark, sf)
      .select("source", "n_docs", "n_tokens", "n_langs",
        "n_quality_pass", "n_policy_clean", "quality_pass_rate", "policy_clean_rate")
      .as[(String, Long, Long, Long, Long, Long, Double, Double)].collect()
    val bySource = meta.groupBy(_._2)
    assert(got.map(_._1).toSet === bySource.keySet)
    got.foreach { case (src, nDocs, nTok, nLangs, qPass, clean, qRate, cRate) =>
      val docs = bySource(src)
      assert(nDocs === docs.size.toLong, src)
      assert(nTok === docs.map(r => policy(r._1)._1).sum, src)
      assert(nLangs === docs.map(_._3).distinct.size.toLong, src)
      assert(qPass === docs.count(r => quality(r._1) >= 0.3).toLong, src)
      assert(clean === docs.count(r => policy(r._1)._2).toLong, src)
      assert(qRate === math.floor(qPass.toDouble / nDocs * 10000 + 0.5) / 10000, src)
      assert(cRate === math.floor(clean.toDouble / nDocs * 10000 + 0.5) / 10000, src)
    }
    // the gates have real signal on the fixture: neither rate is stuck at 0/1
    assert(got.exists(r => r._7 > 0.0 && r._7 < 1.0) || got.exists(r => r._8 < 1.0))
  }

  test("overlapSources rolls cross-source near-dup pairs into the per-pair matrix") {
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val d = Seq(
      (0L, "A", same), (1L, "B", same), (4L, "C", same), // pairs (0,1) (0,4) (1,4)
      (5L, "A", other), (6L, "A", other),                // same-source pair: excluded
      (7L, "B", "nothing like the rest appears in this standalone document text")
    ).toDF("doc_id", "source", "text")
    val got = ExtQueries.overlapSources(d)
      .as[(String, String, Long, Long, Long)].collect()
    // identical texts: jaccard 1; bpe token mass of `same` = 10 (each word ≤4 chars... )
    val tok = same.split(" ").map(w => (w.length + 3) / 4).sum.toLong
    assert(got.toSet === Set(
      ("A", "B", 1L, 2L, tok), ("A", "C", 1L, 2L, tok), ("B", "C", 1L, 2L, tok)))
    // ordered output, all-integer columns (engine-exact by construction)
    assert(got.map(r => (r._1, r._2)).toSeq === got.map(r => (r._1, r._2)).toSeq.sorted)
  }

  test("bpePairs counts tf-weighted adjacent symbol pairs over the vocab") {
    // tf: ab=3, aab=1, ba=1, z=1 (length-1: no pairs)
    val d = docs((0L, "ab ab aab z"), (1L, "ab ba"))
    val got = ExtQueries.bpePairs(d, k = 10)
      .as[(Long, String, String, Long, Long)].collect()
    // (a,b): 3 (from ab) + 1 (from aab) = 4 across 2 token types;
    // (a,a): 1 from aab; (b,a): 1 from ba — tie broken by symbol order
    assert(got === Array(
      (1L, "a", "b", 4L, 2L), (2L, "a", "a", 1L, 1L), (3L, "b", "a", 1L, 1L)))
    // the argmax pair is BPE's first merge — compose with the greedy merger:
    // merging (a,b) makes "ab" a single symbol, so "ab" counts 1 piece
    val merged = d.select(
      graft.functions.TextFns.bpeMergeCount(Seq(("a", "b")))(col("text")).as("n"))
      .as[Long].collect()
    assert(merged.sum === (3L /* ab→1 piece ×3 */ + 2L /* aab→a+ab */ +
      2L /* ba */ + 1L /* z */))
  }

  test("bm25 ranks higher tf first, then shorter docs at equal tf (dl normalization)") {
    val d = docs(
      (0L, "q q q pad pad pad"),       // tf 3
      (1L, "q pad pad pad pad pad"),   // tf 1, dl 6
      (2L, "q pad"),                   // tf 1, dl 2 → beats doc 1
      (3L, "pad pad pad pad pad pad")) // no hit → absent
    val r = graft.operators.TrainPrep.bm25(d, "doc_id", "text", Seq("q"), k = 10)
      .select("rank", "doc_id").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
  }

  test("bm25 sums both terms' contributions and counts matched terms") {
    val d = docs(
      (0L, "q w pad pad"),  // both terms
      (1L, "q pad pad pad") // one term
    )
    val r = graft.operators.TrainPrep.bm25(d, "doc_id", "text", Seq("q", "w"), k = 10)
      .select("doc_id", "n_terms", "rank").as[(Long, Long, Long)].collect()
      .map { case (id, n, rk) => id -> ((n, rk)) }.toMap
    assert(r(0L) === ((2L, 1L)) && r(1L) === ((1L, 2L)))
  }

  test("bm25 refuses >2 query terms (order-sensitive double sum)") {
    val d = docs((0L, "a b c"))
    intercept[IllegalArgumentException] {
      graft.operators.TrainPrep.bm25(d, "doc_id", "text", Seq("a", "b", "c"), k = 1)
    }
  }

  test("rrfFuse: both-list ids beat single-list ids at comparable ranks; exact scores") {
    val a = Seq((10L, 1L), (11L, 2L)).toDF("doc_id", "rank_a")
    val b = Seq((10L, 2L), (12L, 1L)).toDF("doc_id", "rank_b")
    val r = graft.operators.TrainPrep.rrfFuse(a, b, "doc_id", "rank_a", "rank_b")
      .select("fused_rank", "doc_id", "rrf_score")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // 10: 1/61 + 1/62; 12: 1/61 (rank-1 single); 11: 1/62
    assert(r.map(_._2).toSeq === Seq(10L, 12L, 11L))
    def rnd4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(r(0)._3 === rnd4(1.0 / 61 + 1.0 / 62))
    assert(r(1)._3 === rnd4(1.0 / 61))
    assert(r(2)._3 === rnd4(1.0 / 62))
  }

  test("tokenizer fertility aggregates the per-doc bpe_encode piece counts exactly") {
    val d = "/root/testdata/sf0.001"
    val pieces = SparkEntry.queries("ext_bpe_encode")(spark, d)
      .select("doc_id", "n_pieces").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.documents(spark, d)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val got = SparkEntry.queries("ext_tokenizer_fertility")(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.nonEmpty)
    got.foreach { case (lang, nDocs, nWords, nPieces, fert, cpp) =>
      val mine = docs.filter(_._2 == lang)
      assert(nDocs === mine.length.toLong, s"$lang docs")
      val w = mine.map(_._3.split(" ", -1).length.toLong).sum
      val p = mine.map(t => pieces(t._1)).sum
      val c = mine.map(_._3.length.toLong).sum
      assert(nWords === w && nPieces === p, s"$lang sums")
      assert(math.abs(fert - p.toDouble / w) <= 1e-4, s"$lang fertility")
      assert(math.abs(cpp - c.toDouble / p) <= 1e-4, s"$lang chars/piece")
      assert(fert >= 1.0 - 1e-9, "a word is never fewer than one piece")
    }
    SessionFrames.release(spark)
  }

  test("pack diversity: entropy is zero exactly on single-source windows, positive otherwise") {
    val rows = SparkEntry.queries("ext_pack_diversity")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (shard, win, nDocs, nSources, h) =>
      assert(nSources >= 1L && nSources <= nDocs, s"($shard,$win) source bound")
      assert(h >= 0.0, s"($shard,$win) negative entropy")
      if (nSources == 1L) assert(h === 0.0, s"($shard,$win) single-source must be 0")
      else assert(h > 0.0, s"($shard,$win) mixed window must be positive")
    }
    // the fixture mixes sources, so at least one window must be mixed
    assert(rows.exists(_._4 > 1L))
  }

  test("filter pipeline flags equal the standalone stage audits, kept = conjunction") {
    val d = "/root/testdata/sf0.001"
    def m(name: String, flag: String) = SparkEntry.queries(name)(spark, d)
      .select("doc_id", flag).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val gopher = m("ext_quality_gopher", "pass")
    val policy = m("ext_filter_policy", "pass")
    val ppl = m("ext_ppl_filter", "kept")
    val got = SparkEntry.queries("ext_filter_pipeline")(spark, d).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4)))
    assert(got.nonEmpty && got.length === gopher.size)
    got.foreach { case (id, g, p, x, kept) =>
      assert(g === gopher(id) && p === policy(id) && x === ppl(id), s"doc $id stage drift")
      assert(kept === (g && p && x), s"doc $id conjunction")
    }
    SessionFrames.release(spark)
  }
}
