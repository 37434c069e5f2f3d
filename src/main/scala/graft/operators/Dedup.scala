package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SessionFrames
import graft.functions.TextFns

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.8).
  *
  * Four tiers, all shuffle-on-key distributed — no all-pairs cross join
  * anywhere:
  *  - exact: hash-groupBy on a normalized-text digest (one shuffle; the
  *    digest, not the text, is the shuffle key — at 100 TB you shuffle
  *    32 bytes per row, not documents).
  *  - MinHash + banded LSH: shingle → H min-hashes → B band signatures →
  *    self-join on (band, signature) for candidates → exact-Jaccard verify.
  *    Candidate generation is equi-join-shaped, so it scales as the number
  *    of colliding pairs, not n².
  *  - SimHash: 64-bit fingerprint via per-bit majority vote of token
  *    hashes; candidates from 16-bit band collisions, verified by Hamming
  *    distance (bit_count of xor).
  *  - exact n-gram Jaccard: inverted-index self-join on shingle (standard
  *    similarity-join shape); exact, for verification and oracle parity.
  *
  * Intermediates read more than once are persisted with
  * [[graft.SessionFrames.track]]. The returned queries are lazy, so the
  * lifecycle is CALLER-OWNED: materialize the result, then drain with
  * [[graft.SessionFrames.release]] (Bench/Verify/Profile do so between
  * queries).
  */
object Dedup {

  /** Normalized-text identity for exact dedup: 32-byte digest of the
    * case/edge-whitespace-folded text — ONE definition shared by the group
    * and survivor forms so their notion of "duplicate" cannot drift. */
  private[graft] def textDigest(textCol: String): Column =
    sha2(lower(trim(col(textCol))), 256)

  /** Exact dedup groups: one row per distinct normalized text, with the
    * surviving doc (min id) and the duplicate count. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(textDigest(textCol).as("__digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__digest")

  /** Exact-dedup SURVIVOR ROWS: each duplicate group's min-id document with
    * all its columns — the keep side of [[exactGroups]], for pipelines that
    * continue processing the deduplicated corpus. One shuffle, keyed on the
    * 32-byte digest (rows ride it exactly once; no join back to the input),
    * then a per-group rank — the same single-exchange shape as
    * last-write-wins. */
  def exactSurvivors(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(textDigest(textCol)).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct (id, shingle-hash) pairs — the shared input of the MinHash and
    * exact-Jaccard paths, derived by exploding the per-doc arrays of
    * [[shingleArrays]] so the (interpreted, higher-order) shingle generator
    * runs exactly ONCE per cold pipeline. Shingle identity is an int64 hash
    * of the token tuple ([[TextFns.hashedShingles]]): every downstream
    * shuffle/join/intersect moves 8-byte longs instead of n-word strings. A
    * within-pair hash collision (the only kind that could change a Jaccard
    * count) has probability ~|A∪B|²/2⁶⁵ ≈ 1e-16. Persisted: the similarity
    * pipelines read this 3–5×. */
  private def shingled(arrs: DataFrame): DataFrame =
    SessionFrames.track(arrs.select(col("doc_id"), explode(col("__arr")).as("shingle")))

  /** One row per doc with its (distinct) shingle-hash array + size — the
    * compact verification side: candidate pairs join against this
    * 1-row-per-doc table (AQE broadcasts it when small) instead of
    * re-exploding shingles into a pairs × shingles blow-up. Persisted (used
    * by both join sides). */
  private def shingleArrays(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    SessionFrames.track(
      docs.select(col(idCol).as("doc_id"), TextFns.hashedShingles(col(textCol), n).as("__arr"))
        .withColumn("__n_sh", size(col("__arr"))))

  /** Exact n-gram Jaccard similarity join, prefix-filtered (AllPairs /
    * PPJoin family): candidates come only from joining each doc's PREFIX —
    * its |X| − ⌈t·|X|⌉ + 1 globally-rarest shingles — then exact Jaccard is
    * recomputed for candidates. Lossless: order shingles globally by
    * ascending document frequency; for a pair with J ≥ t, the first common
    * shingle in that order must sit inside both prefixes (if it sat beyond
    * doc X's prefix, all common shingles would fit in X's last ⌈t·|X|⌉ − 1
    * positions, forcing |A∩B| < t·|A| ≤ t·|A∪B|). A naive inverted-index
    * self-join materializes Σ df² pairs over ALL shingles — frequent
    * shingles make that quadratic; the prefix join touches only rare ones. */
  def ngramJaccard(docs: DataFrame, textCol: String, idCol: String, n: Int,
                   threshold: Double): DataFrame = {
    val arrs = shingleArrays(docs, textCol, idCol, n)
    verifyJaccard(prefixCandidates(shingled(arrs), threshold), arrs, threshold)
  }

  /** [[ngramJaccard]]'s prefix-filtered similarity join over a
    * PRE-SHINGLED distinct (doc_id, sh) frame — the entry the streaming
    * near-dup replay uses for its self-probe fast path
    * ([[graft.streaming.NeardupStream.newPairs]]): when ONE batch carries
    * the whole corpus, probe universe = batch, and the prefix rule's
    * lossless argument (both pair members inside the frame, a shared
    * global rarity order) holds exactly as in the batch tier — the
    * arrival-instability reason the live stream avoids prefixes is gone.
    * One doc-keyed aggregate rebuilds the verification arrays from the
    * rows; everything else is the AllPairs/PPJoin stack above (a
    * rows-side verification was measured SLOWER — the pair-bounded
    * candidate side does not reliably broadcast, and the exploded frame
    * then re-exchanges twice). */
  def jaccardPairsFromShingles(shRows: DataFrame, threshold: Double): DataFrame = {
    val sh = SessionFrames.track(shRows.select(col("doc_id"), col("sh").as("shingle")))
    val arrs = SessionFrames.track(
      sh.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("shingle"))).as("__arr"))
        .withColumn("__n_sh", size(col("__arr"))))
    verifyJaccard(prefixCandidates(sh, threshold), arrs, threshold)
  }

  /** Prefix-filtered candidate pairs (see [[ngramJaccard]]). Three sound
    * pruning rules compose (the AllPairs/PPJoin stack):
    *  - PREFIX rule: join only each doc's rarest |X| − ⌈t·|X|⌉ + 1 shingles.
    *  - LENGTH rule: J ≥ t forces min(|A|,|B|) ≥ t·max(|A|,|B|) (the
    *    intersection fits in the smaller set, the union contains the larger).
    *  - POSITIONAL rule (PPJoin): a match at rarity-order positions
    *    (posA, posB) bounds the overlap by min(|A|−posA, |B|−posB) + 1 —
    *    every common shingle sits at or after the matched position in BOTH
    *    docs' shared global order; J ≥ t needs overlap ≥ t/(1+t)·(|A|+|B|),
    *    so pairs whose bound can't reach it are pruned. Lossless under the
    *    trailing `distinct`: for a true pair, the row of the FIRST common
    *    shingle attains the pair's max bound (≥ its true overlap) and
    *    survives. Compared in the multiplied-out form
    *    bound·(1+t) ≥ t·(|A|+|B|) − ε, so float error can only ever
    *    under-prune, never drop a qualifying pair.
    * All three filters sit in the join condition, so pruned pairs never
    * materialize into shuffle output. */
  private def prefixCandidates(sh: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docFreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("__df"), col("shingle"))
    val all = Window.partitionBy(col("doc_id"))
    val prefix = sh.join(docFreq, "shingle")
      .withColumn("__pos", row_number().over(byRarity).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .filter(col("__pos") <= col("__n") - ceil(lit(t) * col("__n")) + 1)
      .select(col("doc_id"), col("shingle"), col("__pos"), col("__n"))
    SessionFrames.track(prefix) // both sides of the self-join
    val overlapBound =
      (least(col("a.__n") - col("a.__pos"), col("b.__n") - col("b.__pos")) + 1).cast("double")
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.__n"), col("b.__n")) >= lit(t) * greatest(col("a.__n"), col("b.__n"))
          && overlapBound * lit(1.0 + t) >= lit(t) * (col("a.__n") + col("b.__n")) - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash signatures: H min-hashes per doc (seeded xxhash64 per shingle,
    * min-aggregated — H narrow aggregates, one shuffle). */
  private def minhashSignature(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Banded-LSH candidate pairs + exact-Jaccard verification.
    * numHashes = bands × rowsPerBand; a pair with Jaccard j collides on one
    * band with probability 1-(1-j^rows)^bands. Verification recomputes the
    * exact Jaccard for candidates only, so the output is sound (every
    * reported pair truly ≥ threshold); banding controls recall. */
  def minhashLsh(docs: DataFrame, textCol: String, idCol: String, n: Int,
                 bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val arrs = shingleArrays(docs, textCol, idCol, n)
    val sig = minhashSignature(shingled(arrs), bands * rowsPerBand)
    val bandSigs = (0 until bands).map { b =>
      xxhash64((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
    }
    val banded = sig.select(col("doc_id"), posexplode(array(bandSigs: _*)).as(Seq("band", "sig")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, arrs, threshold)
  }

  /** Exact-Jaccard check of candidate pairs against per-doc shingle arrays:
    * two joins to the 1-row-per-doc side and a codegen-friendly
    * `array_intersect` per pair — candidates never fan out to
    * (pair × shingle) rows. Same count as the relational
    * join-on-shingle form (arrays are distinct). */
  private def verifyJaccard(cand: DataFrame, docArr: DataFrame, threshold: Double): DataFrame = {
    val a = docArr.select(col("doc_id"), col("__arr").as("__arr_a"), col("__n_sh").as("na"))
    val b = docArr.select(col("doc_id"), col("__arr").as("__arr_b"), col("__n_sh").as("nb"))
    val nCommon = size(array_intersect(col("__arr_a"), col("__arr_b")))
    val j = col("n_common") * lit(1.0) / (col("na") + col("nb") - col("n_common"))
    cand
      .join(a, col("doc_a") === a("doc_id")).drop("doc_id")
      .join(b, col("doc_b") === b("doc_id")).drop("doc_id")
      .withColumn("n_common", nCommon)
      .filter(j >= threshold)
      .select(col("doc_a"), col("doc_b"), graft.Tables.rnd4(j).as("jaccard"))
  }

  /** Directional n-gram CONTAINMENT pairs: (doc_a, doc_b) where
    * |sh(A) ∩ sh(B)| / |sh(A)| ≥ t — "A is (mostly) inside B", the
    * sub-document duplication the symmetric Jaccard tiers above are blind
    * to: a paragraph pasted into a 100× longer page has Jaccard ≈ 0.01
    * against it but containment ≈ 1.0. The asymmetric counterpart of
    * [[ngramJaccard]], sharing its shingle/verify machinery.
    *
    * Candidate generation is the containment form of the prefix filter:
    * only A (the contained side) can be prefix-pruned — if C(A→B) ≥ t, at
    * most |A| − ⌈t·|A|⌉ of A's shingles are outside B, so A's
    * |A| − ⌈t·|A|⌉ + 1 globally-rarest shingles must hit B somewhere —
    * while B joins through the FULL inverted index (no length rule: any
    * |B| can contain A). Still bucketed end to end: candidate volume is
    * Σ_{s ∈ prefixes} df(s), and prefixes hold each doc's RAREST shingles
    * by construction. The ceil rides an ε so a float product landing
    * exactly on an integer can't shorten the prefix below the lossless
    * length (the [[prefixCandidates]] under-prune-only discipline).
    * Verification is two joins to the 1-row-per-doc arrays — candidates
    * never fan out to (pair × shingle) rows. */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String, n: Int,
                       threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrs = shingleArrays(docs, textCol, idCol, n)
    val sh = shingled(arrs)
    val docFreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("__df"), col("shingle"))
    // df-1 shingles exist in one doc only, so they can never join a
    // cross-doc candidate — cut them BEFORE any window (in a mostly-unique
    // corpus that is most of the index). Rarity positions over the FULL
    // shingle set are still recoverable without windowing it: df is the
    // PRIMARY sort key, so every df-1 shingle precedes every df≥2 shingle
    // in a doc's rarity order — full position = (#df-1 shingles, i.e.
    // |A| − |kept|) + rank within the kept block.
    val shared = SessionFrames.track(sh.join(docFreq, "shingle").filter(col("__df") >= 2))
    val n2 = shared.groupBy(col("doc_id")).agg(count(lit(1)).as("__n2"))
    val sizes = arrs.select(col("doc_id"), col("__n_sh").as("__n"))
    val withPos = SessionFrames.track(shared
      .withColumn("__rn", row_number().over(byRarity).cast("long"))
      .join(n2, "doc_id").join(sizes, "doc_id")
      .withColumn("__pos", col("__n") - col("__n2") + col("__rn"))
      .select(col("doc_id"), col("shingle"), col("__pos"), col("__n")))
    val prefix = withPos
      .filter(col("__pos") <= col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1)
    // positional bound (the PPJoin rule, containment-normalized): the first
    // common shingle in the shared global rarity order has every other
    // common shingle at-or-after it in BOTH docs, so
    // |A∩B| ≤ min(|A|−posA, |B|−posB) + 1; C(A→B) ≥ t needs that ≥ t·|A|.
    // The first-common-shingle row attains the pair's max bound, so the
    // trailing distinct keeps every qualifying pair (under-prune-only ε).
    val overlapBound =
      (least(col("a.__n") - col("a.__pos"), col("b.__n") - col("b.__pos")) + 1).cast("double")
    val cand = prefix.as("a")
      .join(withPos.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id")
          && overlapBound >= lit(threshold) * col("a.__n") - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val a = arrs.select(col("doc_id"), col("__arr").as("__arr_a"), col("__n_sh").as("na"))
    val b = arrs.select(col("doc_id"), col("__arr").as("__arr_b"))
    val contain = col("n_common") * lit(1.0) / col("na")
    cand
      .join(a, col("doc_a") === a("doc_id")).drop("doc_id")
      .join(b, col("doc_b") === b("doc_id")).drop("doc_id")
      .withColumn("n_common", size(array_intersect(col("__arr_a"), col("__arr_b"))))
      .filter(contain >= threshold)
      .select(col("doc_a"), col("doc_b"), graft.Tables.rnd4(contain).as("containment"))
  }

  /** Edit-distance near-dup pairs — blocked fuzzy matching, the classic
    * record-linkage shape: candidates from an inverted index over RARE
    * n-token shingles (2 ≤ df ≤ `maxDf` — df-1 shingles can't form a
    * cross-doc pair, df > maxDf shingles are background vocabulary that
    * would quadratically inflate candidates), confirmed by character-level
    * Levenshtein ≤ `maxDist` (`functions.levenshtein`, codegen'd). The
    * edit-distance tier complements the set-similarity tiers: Jaccard and
    * containment are blind to ORDER (a shuffled doc keeps its shingle set
    * at n=1 and much of it at small n); Levenshtein charges every
    * transposition. The confirm is BANDED: `levenshtein(l, r, threshold)`
    * limits the DP to the ±maxDist diagonal band (O(maxDist·min len) with
    * early exit, returning −1 above threshold) instead of the full
    * O(|a|·|b|) table, and a length-difference pre-filter
    * (|len(a)−len(b)| > maxDist ⇒ distance > maxDist, since each unit of
    * length gap costs ≥ 1 edit) prunes candidates before any DP runs —
    * a plain column predicate evaluated below the verify expression.
    *
    * Contract is candidates-then-verify, like production fuzzy linkage:
    * the output is exactly "pairs sharing ≥ 1 rare shingle with edit
    * distance ≤ maxDist" — deterministic and oracle-expressible (the
    * oracle replays the same blocking in SQL), not an "all pairs under
    * maxDist" claim, which no sub-quadratic plan can make on adversarial
    * input (two docs can sit at distance 1 yet share no shingle only if
    * every shingle is corpus-unique — excluded here by df ≥ 2 being the
    * only pair-forming shingles).
    *
    * Scale shape: candidate volume is Σ_{g rare} df(g)² ≤ maxDf · Σ df(g)
    * — linear in the index size with a constant cap, never n². The
    * verify join moves only candidate-pair text; at 100 TB the rare-shingle
    * index is the working set and the DP confirm is per-pair constant
    * (docs bounded by chunking upstream). */
  def fuzzyPairs(docs: DataFrame, textCol: String, idCol: String, n: Int,
                 maxDf: Long, maxDist: Int): DataFrame = {
    // persisted: the explode (text deserialization + hashing, the
    // dominant per-run cost) runs ONCE and is read twice — df aggregate
    // and index probe (the textNovelty df pattern)
    val sh = SessionFrames.track(docs.select(col(idCol).as("doc_id"),
      explode(TextFns.hashedShingles(col(textCol), n)).as("shingle")))
    // the df table filters to rare shingles, but its row count is the
    // corpus's distinct-shingle diversity — data-sized, NOT a dimension
    // table, so no forced broadcast (it would OOM at 100 TB exactly like
    // the dedup_savings labels join); AQE picks the strategy from REAL
    // runtime sizes, so the static-estimate build-side flip a hint would
    // guard against cannot happen here
    val rare = SessionFrames.track(
      sh.join(
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .filter(col("__df").between(2L, maxDf)),
        "shingle"))
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // length prune FIRST on an int-only frame, so pruned candidates never
    // ship text; survivors fetch text for the banded DP confirm
    val lens = docs.select(col(idCol).as("doc_id"), length(col(textCol)).as("__len"))
    val txt = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    cand
      .join(lens.select(col("doc_id"), col("__len").as("__la")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(lens.select(col("doc_id"), col("__len").as("__lb")), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .join(txt.select(col("doc_id"), col("__text").as("__ta")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(txt.select(col("doc_id"), col("__text").as("__tb")), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      .withColumn("distance", levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("distance").between(0L, maxDist))
      .select(col("doc_a"), col("doc_b"), col("distance"))
  }

  /** Cross-document repeated-passage REMOVAL (the C4 "three-sentence"
    * rule, tiled): cut every `p`-token passage whose text occurs in ≥ 2
    * distinct documents, and REASSEMBLE each doc from its surviving
    * passages in original order. The spans tier above localizes
    * duplication; this one rewrites the corpus — the actual dedup pass a
    * training pipeline ships. Within-doc repeats survive (they are
    * repetition, not cross-doc duplication — [[Dedup]] has a separate
    * signal for those).
    *
    * Scale shape: passages tile row-locally (no overlap fan-out — n/p
    * rows per doc, not n); the doc-frequency aggregate and join-back are
    * keyed on the 8-byte passage hash, never the text; reassembly is one
    * doc-keyed aggregate whose `collect_list` is bounded by the doc's own
    * passage count (a per-row bound, not a corpus bound). Three keyed
    * exchanges end to end at any corpus size. */
  def passageDedup(docs: DataFrame, textCol: String, idCol: String, p: Int): DataFrame = {
    val tk = TextFns.tokens(col(textCol))
    val nPass = ceil(size(tk).cast("double") / p).cast("int")
    val tiles = transform(sequence(lit(0), nPass - 1),
      i => concat_ws(" ", slice(tk, i * p + 1, lit(p))))
    val pass = SessionFrames.track(docs
      .select(col(idCol).as("doc_id"), posexplode(tiles).as(Seq("pidx", "passage")))
      .withColumn("__h", xxhash64(col("passage"))))
    val dfTab = pass.groupBy(col("__h")).agg(countDistinct(col("doc_id")).as("__df"))
    pass.join(dfTab, "__h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__df") === 1L, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__df") === 1L, struct(col("pidx"), col("passage"))))),
            s => s.getField("passage")),
          " ").as("text_clean"))
  }

  /** Per-source BOILERPLATE fraction — template text repeated across
    * documents of the SAME source (nav chrome, disclaimers, generator
    * headers): the per-source form of the corpus-wide passage tiers. A
    * doc's `p`-token tiles occurring in ≥ `minDf` distinct docs of its own
    * source are boilerplate; the report is per-doc tile counts plus the
    * integer permille a cleaning pass would cut. Scoped WITHIN source, not
    * corpus-wide, deliberately: template text is a property of the SITE —
    * a phrase shared across sources is duplication ([[passageDedup]] /
    * the span tiers), not boilerplate, and a corpus-wide df would flag
    * common English instead of chrome.
    *
    * Scale shape: tiles are row-local (n/p rows per doc, no overlap
    * fan-out); the df aggregate and join-back are keyed on (source,
    * 8-byte tile hash), never text; the rollup is doc-keyed. Three keyed
    * exchanges end to end at any corpus size — the [[passageDedup]] shape
    * with a source key. */
  def boilerplate(docs: DataFrame, textCol: String, idCol: String,
                  sourceCol: String, p: Int, minDf: Long): DataFrame = {
    val tk = TextFns.tokens(col(textCol))
    val nPass = ceil(size(tk).cast("double") / p).cast("int")
    val tiles = transform(sequence(lit(0), nPass - 1),
      i => concat_ws(" ", slice(tk, i * p + 1, lit(p))))
    val pass = SessionFrames.track(docs
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        explode(tiles).as("passage"))
      .withColumn("__h", xxhash64(col("passage"))))
    val dfTab = pass.groupBy(col("source"), col("__h"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    pass.join(dfTab, Seq("source", "__h"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("source"), col("n_tiles"), col("n_boiler"),
        expr("n_boiler * 1000 div n_tiles").as("boiler_permille"))
  }

  /** Duplicate-substring spans (exact substring dedup in the style of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): the token ranges of each doc covered by any word n-gram
    * occurring ≥ `minDf` times corpus-wide (counting within-doc repeats),
    * merged into maximal contiguous spans. Unlike the whole-doc Jaccard
    * tiers above, this localizes WHERE the duplication sits — the spans are
    * what a substring-dedup pass would cut.
    *
    * Shape: positional n-gram hashes — one (doc_id, pos, hash) row per
    * n-gram occurrence; the int64 hash, never the text, is the shuffle
    * key. Occurrence counts come from a map-side-combined count aggregate
    * (NOT a count-window: a window sorts every positional row on the hash,
    * while the partial aggregate shuffles one row per distinct hash per
    * partition; together with the compiled positional hashing this took
    * the sf0.1 query from 11.3 s to 1.5 s warm). The ≥ minDf survivors are a DUPLICATION-bounded set that
    * joins back to the positional rows (AQE broadcasts it when small, the
    * realistic case; sort-merge is the unbounded fallback), and the matches
    * flow into a per-doc gaps-and-islands merge whose window and groupBy
    * share the doc_id partitioning.
    *
    * Spans of equal-length intervals merge when they overlap OR touch
    * (next start = prev end + 1): coverage is contiguous either way, and a
    * loader cutting the span can't tell the difference. */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String, n: Int,
                     minDf: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"duplicateSpans: n must be >= 2, got $n")
    // compiled one-scan positional hashes (identity-by-hash, collision odds
    // ≈ occurrences²/2⁶⁵); short docs yield an empty array → no rows. The
    // hashing pass runs twice (count input + join probe) — cheaper than
    // persisting the positional expansion, which at corpus scale outweighs
    // the text it came from
    val positional = docs.select(col(idCol).as("doc_id"),
      posexplode(TextFns.hashedShinglesAll(col(textCol), n)).as(Seq("pos", "h")))
    val dupHashes = positional.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("h"))
    val dupPos = positional.join(dupHashes, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + (n - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("__new", when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("__span", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + (n - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Per-doc winnowing fingerprint frame — (doc_id, fps array<bigint>) via
    * the codegen'd [[graft.functions.WinnowFingerprints]] kernel (Schleimer
    * 2003). Row-local, zero shuffles: the per-doc array carries only the
    * ~2/(w+1) selected gram hashes downstream. */
  def winnowCol(text: Column, k: Int, w: Int, modulus: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(text), k, w, modulus))

  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
                         k: Int, w: Int, modulus: Long): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      winnowCol(col(textCol), k, w, modulus).as("fps"))

  /** MOSS-style shared-fingerprint pair report over the winnowed sets:
    * docs sharing ≥ minShared selected fingerprints, with the shared
    * count. Fingerprint identity is a SET per doc (duplicate values at
    * different positions collapse); ubiquitous fingerprints (boilerplate
    * — document frequency > maxDf) are dropped BEFORE the self-join, so
    * the candidate fan-out is df-capped exactly like the shingle tiers:
    * the join scales as colliding pairs over rare fingerprints, never n².
    * At 100 TB the winnowed index is w+1 times smaller than the full
    * shingle index at the same k — the reason MOSS scales. */
  def winnowPairs(docs: DataFrame, textCol: String, idCol: String,
                  k: Int, w: Int, modulus: Long,
                  maxDf: Long, minShared: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // set semantics ROW-LOCALLY: a doc's duplicate fingerprint VALUES (same
    // gram text at different positions) collapse in array_distinct before
    // the explode, so no corpus-wide distinct exchange ever runs; persist
    // the exploded set so the winnow kernel scan (the expensive half) runs
    // ONCE even though the frame feeds both sides of the self-join; the
    // df-cap is a window count on the h partitioning the join needs anyway
    // — one exchange, not a groupBy + semi-join pair
    val fps = winnowFingerprints(docs, textCol, idCol, k, w, modulus)
      .select(col("doc_id"), explode(array_distinct(col("fps"))).as("h"))
    // the PERSIST point is the capped frame: kernel scan AND df-window run
    // once, and the self-join's two branches read only the small surviving
    // slice
    val capped = SessionFrames.track(fps
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__df").between(2L, maxDf)).drop("__df"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Duplicate clustering: connected components over a near-dup pair list —
    * each doc labelled with the min doc_id reachable through pairs (the
    * cluster's canonical survivor). */
  def duplicateClusters(pairs: DataFrame): DataFrame =
    clusterRounds(pairs)._1

  /** Soft dedup: the REWEIGHT alternative to dropping duplicates (the
    * SoftDeDup idea — keep every copy but shrink its sampling weight to
    * 1/|cluster|, so a 40-copy boilerplate page contributes one page's
    * worth of training signal while its unique tail tokens survive).
    * `labels` is a [[duplicateClusters]] frame over the near-dup slice;
    * docs outside it are singletons with full weight. Weights are integer
    * parts-per-million (`1000000 div n` — engine-exact, no float division
    * anywhere). Shape: the label join is doc-keyed, the size rollup and
    * join-back are cluster-keyed over the tiny near-dup slice — three
    * keyed exchanges on slim id frames; document text never moves. */
  /** Cross-SOURCE duplication matrix over a near-dup pair frame — per
    * unordered source pair: the pair count, distinct victim docs (each
    * pair's `doc_b`, the higher id — the family's min-id keep rule's
    * loser) and their char mass. The wholesale-drop decision table (see
    * the `ext_dedup_cross_source` entry doc); shared verbatim between the
    * batch form and the streaming pair-state report so the twins cannot
    * drift. `meta` = (doc_id, source, n_chars). A doc can be a victim in
    * several cells — each cell reports ITS OWN droppable mass.
    *
    * Shape: two slim id-keyed joins label the (tiny, post-verification)
    * pair slice; the labeled frame is checkpointed because the pair
    * rollup and the distinct-victim rollup both read it; outputs are
    * sources²-bounded. */
  def crossSourceMatrix(pairs: DataFrame, meta: DataFrame): DataFrame = {
    val lab = pairs.select(col("doc_a"), col("doc_b"))
      .join(meta.select(col("doc_id").as("doc_a"), col("source").as("__sa")),
        Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("source").as("__sb"),
        col("n_chars").as("__cb")), Seq("doc_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"),
        col("doc_b"), col("__cb"))
      .localCheckpoint(true)
    val nPairs = lab.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val victims = lab.distinct()
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_victims"), sum(col("__cb")).as("victim_chars"))
    nPairs.join(victims, Seq("source_a", "source_b"))
      .transform(graft.Tables.orderedReport(_, "source_a", "source_b"))
  }

  def softWeights(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val lab = docs.select(col(idCol))
      .join(labels.withColumnRenamed(labels.columns.head, idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val sizes = lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_copies"))
    lab.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("n_copies"),
        expr("1000000 div n_copies").as("weight_ppm"))
  }

  /** Cluster-purity audit — the QC pass over [[duplicateClusters]]'s
    * transitive closure: connected components merge through CHAINS, so two
    * docs can share a cluster while their direct similarity is far below
    * the pairing threshold (A~B ≥ t, B~C ≥ t, but A~C ≪ t). Per cluster
    * (clusters up to `maxMembers`), every unordered member pair's exact
    * Jaccard is recomputed and the rollup reports how many pairs are
    * direct (≥ threshold) vs weak (chained), plus the worst pairwise
    * similarity — the "should this cluster really be one group" number a
    * dedup review thresholds before dropping non-canonical members.
    *
    * Shape: the all-pairs step is per-cluster and `maxMembers`-capped, so
    * its cost is Σ min(|C|, cap)² over clusters — independent of corpus
    * size (clustered docs are the tiny near-dup slice). The pair join is
    * keyed on cluster_id and carries the docs' int64 shingle arrays
    * (already materialized for the verify step); oversized clusters are
    * excluded rather than exploded (audit them by sampling, not all-pairs).
    * All comparisons use the same unrounded ratio as [[ngramJaccard]]'s
    * verify, so "direct" here means exactly "would have been a pair". */
  def clusterPurity(docs: DataFrame, textCol: String, idCol: String, n: Int,
                    threshold: Double, maxMembers: Int = 64): DataFrame = {
    val arrs = shingleArrays(docs, textCol, idCol, n)
    val edges = verifyJaccard(
      prefixCandidates(shingled(arrs), threshold), arrs, threshold)
    clusterPurityImpl(arrs, duplicateClusters(edges), threshold, maxMembers)
  }

  /** [[clusterPurity]] over PRE-COMPUTED CC labels (a [[duplicateClusters]]
    * frame built from the same (docs, n, threshold) pipeline — the query
    * layer passes its session-shared checkpoint, skipping the
    * shingle → prefix-join → verify → CC recompute): only the per-doc
    * shingle arrays for the within-cluster all-pairs verify are rebuilt
    * here. Row-identical to [[clusterPurity]] by determinism of the pair
    * pipeline. */
  def clusterPurityFromLabels(docs: DataFrame, textCol: String, idCol: String,
                              n: Int, labels: DataFrame, threshold: Double,
                              maxMembers: Int = 64): DataFrame =
    clusterPurityImpl(shingleArrays(docs, textCol, idCol, n), labels,
      threshold, maxMembers)

  private def clusterPurityImpl(arrs: DataFrame, labels0: DataFrame,
                                threshold: Double, maxMembers: Int): DataFrame = {
    require(maxMembers >= 2, s"clusterPurity: maxMembers must be >= 2, got $maxMembers")
    // the CC labels feed the member rollup AND both sides of the pair
    // self-join — persist them (and the slim labelled-member frame) or the
    // whole shingle→candidate→verify→CC pipeline recomputes per consumer
    val labels = SessionFrames.track(labels0)
    val memb = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") <= maxMembers)
    val lm = SessionFrames.track(labels.join(memb, "cluster_id")
      .join(arrs.select(col("doc_id"), col("__arr"), col("__n_sh")), "doc_id"))
    val mp = lm.select(col("cluster_id"), col("n_members"), col("doc_id").as("doc_a"),
        col("__arr").as("__arr_a"), col("__n_sh").as("na"))
      .join(lm.select(col("cluster_id"), col("doc_id").as("doc_b"),
        col("__arr").as("__arr_b"), col("__n_sh").as("nb")), "cluster_id")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("__arr_a"), col("__arr_b"))).cast("long"))
      .withColumn("jac",
        col("n_common") * lit(1.0) / (col("na") + col("nb") - col("n_common")))
    mp.groupBy(col("cluster_id"), col("n_members"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= threshold, 1L).otherwise(0L)).as("n_direct"),
        graft.Tables.rnd4(min(col("jac"))).as("min_jaccard"))
      .withColumn("n_weak", col("n_pairs") - col("n_direct"))
      .select("cluster_id", "n_members", "n_pairs", "n_direct", "n_weak", "min_jaccard")
  }

  /** Default [[clusterRounds]] single-task cutover: 1M canonical edges is
    * ~tens of MB of union-find state — one task solves it in milliseconds,
    * against rounds × job-latency for the star loop. Near-dup edge sets
    * are tiny relative to their corpus (LSH verification prunes them), so
    * even 100 TB corpora usually land under this; truly giant edge sets
    * (beyond it) take the O(log n) distributed rounds. */
  val LocalSolveMaxEdges: Long = 1000000L

  /** [[duplicateClusters]] plus the number of alternating rounds it took —
    * exposed so tests can pin the O(log n) convergence bound.
    *
    * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
    * and Beyond", SoCC'14). Per round, every node connects its larger
    * neighbours (large-star: all of Γ(u) above u) or its not-larger
    * neighbourhood (small-star: Γ(u) below u, plus u itself) to the minimum
    * of that neighbourhood; both steps are a symmetric-adjacency groupBy +
    * equi-join — shuffle-on-key, linear in edges. The edge set converges to
    * per-component stars centred on the component minimum in O(log n)
    * rounds, independent of cluster DIAMETER — a pathological duplicate
    * chain that costs L rounds under naive min-label propagation costs
    * log L here.
    *
    * Fault tolerance / lineage: each round's edge set is cut from its
    * lineage. On a cluster (where executors can be lost after lineage
    * truncation) a RELIABLE checkpoint to the configured cluster checkpoint
    * dir is REQUIRED — the method fails fast if none is set, because a
    * driver-local fallback path would silently break recoverability. In
    * local mode the cut is `localCheckpoint` (block-manager-backed,
    * memory-first with disk spill): the single JVM IS the failure domain,
    * so durable files buy nothing there, and the in-memory cut skips a
    * per-round write-to-disk + read-back — with the added structural win
    * that nothing mutates the process-global checkpoint-dir setting, so
    * concurrent invocations need no serialization and no cleanup. An
    * admin-configured dir is honoured even in local mode (the explicit
    * opt-in to durable round files).
    *
    * Block lifecycle (local mode): each round's blocks are unpersisted as
    * soon as the next round's convergence check has consumed them, the
    * final labels are materialized into a [[graft.SessionFrames.track]]ed
    * persist (the caller-owned lifecycle of every other pipeline persist),
    * and the last round's blocks are then released too — repeated
    * Bench/Verify invocations in one JVM accumulate nothing beyond what
    * [[graft.SessionFrames.release]] drains. */
  def clusterRounds(pairs: DataFrame,
                    localSolveMaxEdges: Long = LocalSolveMaxEdges): (DataFrame, Int) = {
    val sc = pairs.sparkSession.sparkContext
    val localMaster = sc.master.startsWith("local")
    if (!localMaster && sc.getCheckpointDir.isEmpty)
      throw new IllegalStateException(
        "duplicateClusters on a cluster requires sparkContext.setCheckpointDir on SHARED " +
          "storage: per-round reliable checkpoints on a driver-local path are silently " +
          "unrecoverable after executor loss")
    if (localMaster && sc.getCheckpointDir.isEmpty)
      clusterRoundsImpl(pairs, df => df.localCheckpoint(eager = true),
        SessionFrames.releaseBlocks, materialize = true, localSolveMaxEdges)
    else
      // reliable checkpoint files belong to the admin-configured dir; the
      // labels frame stays lazy over them (nothing to release here)
      clusterRoundsImpl(pairs, df => df.checkpoint(eager = true),
        _ => (), materialize = false, localSolveMaxEdges)
  }

  /** The alternating-rounds loop; `cut` truncates each round's lineage,
    * `release` frees a cut frame's storage once nothing will read it again,
    * `materialize` pins the labels into a tracked persist BEFORE the final
    * round's storage is released. */
  private def clusterRoundsImpl(pairs: DataFrame,
                                cut: DataFrame => DataFrame,
                                release: DataFrame => Unit,
                                materialize: Boolean,
                                localSolveMaxEdges: Long): (DataFrame, Int) = {
    // Set fingerprint for convergence: (count, XOR of per-edge xxhash64).
    // Both sets are canonical and distinct, so equal count + equal XOR fold
    // ⇒ equal sets up to a 2⁻⁶⁴ hash-cancellation (the same hash-identity
    // standard the shingle pipeline documents; a false stop would also have
    // to strike exactly at the fixpoint's neighbourhood to alter labels).
    // ONE map-side-combined aggregate job per round, against the count +
    // two-shuffle `except` of the set-difference form.
    //
    // PRECONDITION: `df` must be duplicate-free. XOR cancels pairwise, so on
    // a multiset a repeated edge vanishes from the fold and the check decays
    // to a far weaker multiset comparison WITHOUT any test failing. This
    // holds today because the initial canonicalization and both smallStar
    // and largeStar end in .distinct() — keep that invariant if editing them.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // canonical undirected edge set: (u, v) with u < v, distinct — PERSISTED
    // (not cut): the fingerprint job materializes the blocks, so deciding
    // between the fast path and the loop costs ONE job over the upstream
    // pair pipeline, and both consumers below read blocks, not lineage
    val canonical = SessionFrames.track(
      pairs
        .select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    var fp = fingerprint(canonical)
    // Single-task fast path: when the canonical edge set fits one task
    // (post-LSH-verification pair sets are tiny relative to their corpus),
    // one union-find pass replaces the whole rounds × job-latency loop —
    // the count is already in hand from the convergence fingerprint.
    // Returned round count is 0: no star round ran.
    if (fp._1 > 0L && fp._1 <= localSolveMaxEdges) {
      val labels = localLabels(canonical)
      val out =
        if (!materialize) labels
        else {
          val persisted = SessionFrames.track(labels)
          persisted.count()
          persisted
        }
      return (out, 0)
    }
    var edges = cut(canonical)
    var rounds = 0
    var converged = fp._1 == 0L
    while (!converged) {
      val next = cut(smallStar(largeStar(edges)))
      rounds += 1
      val nextFp = fingerprint(next)
      converged = nextFp == fp
      release(edges) // the check was this frame's last reader
      edges = next
      fp = nextFp
    }
    // at the fixpoint the edge set is disjoint stars (root = component
    // min): leaves point at their root, roots label themselves
    val labels = edges.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .unionByName(edges.select(col("u").as("doc_id"), col("u").as("cluster_id")).distinct())
    val out =
      if (!materialize) labels
      else {
        val persisted = SessionFrames.track(labels)
        persisted.count() // materialize before the final round's blocks go
        release(edges)
        persisted
      }
    (out, rounds)
  }

  /** Min-root union-find over a small canonical edge set in ONE task:
    * coalesce to a single partition, label every node with its component
    * minimum. Same output contract as the star fixpoint (each node exactly
    * once, roots label themselves), and order-insensitive — attaching the
    * larger root under the smaller makes the result a pure function of the
    * edge SET. Memory is bounded by the caller's edge cap, not the corpus. */
  private def localLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (u, v) =>
          parent.getOrElseUpdate(u, u)
          parent.getOrElseUpdate(v, v)
          val ru = find(u); val rv = find(v)
          if (ru < rv) parent(rv) = ru
          else if (rv < ru) parent(ru) = rv
        }
        // materialize the node set BEFORE mapping: find() still compresses
        parent.keysIterator.toArray.iterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "cluster_id")
  }

  /** Symmetric adjacency of a canonical edge set: one (u, v) row per
    * directed neighbour relation. */
  private def adjacency(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))

  /** Large-star round: every node u connects each STRICTLY LARGER neighbour
    * to m = min(Γ(u) ∪ {u}). Output stays canonical (m ≤ u < neighbour). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbr = adjacency(edges)
    val mins = nbr.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
    nbr.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
      .distinct()
  }

  /** Small-star round: every node u connects its NOT-LARGER neighbourhood
    * (smaller neighbours plus u itself) to its minimum. Canonical output. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val below = adjacency(edges).filter(col("v") < col("u")) // smaller neighbours of u
    val mins = below.groupBy(col("u")).agg(min(col("v")).as("m")) // m < u always
    mins.select(col("m").as("u"), col("u").as("v")) // (u, m) re-attachment
      .unionByName(
        below.join(mins, "u")
          .filter(col("v") =!= col("m"))
          .select(col("m").as("u"), col("v"))) // (x, m) for smaller neighbours x ≠ m
      .distinct()
  }

  /** Per-bit majority vote over token hashes as ONE typed Aggregator (a
    * 64-int vote buffer, map-side partial merge) instead of 64 separate
    * conditional-sum aggregate columns: same integer arithmetic and
    * therefore the same fingerprints, but the generated aggregate stays
    * small — the 64-column form compiled a codegen function big enough to
    * dominate the query's cold time. Now the TEST-ONLY semantic pin for
    * the row-local [[graft.functions.SimHash64]] expression (the
    * lshBandKeysRef pattern), which replaced it on the production path. */
  private object SimhashAgg extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(b: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { b(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
      b
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Int]): Long = {
      var fp = 0L
      var i = 0
      while (i < 64) { if (r(i) > 0) fp |= 1L << i; i += 1 }
      fp
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** 64-bit SimHash per doc: per-bit majority vote over the distinct-token
    * hashes, as ONE row-local codegen'd expression
    * ([[graft.functions.SimHash64]]) — no explode fan-out, no shuffle, one
    * corpus scan at any scale. Bit-identical to [[simhashRef]] (the vote
    * is a commutative sum; DedupSpec pins the fixture-wide equality). */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextFns.simhash64(col(textCol)).as("simhash"))

  /** The aggregate reference form of [[simhash]] — explode distinct tokens,
    * shuffle on doc, vote via [[SimhashAgg]]. Kept (test-only) as the
    * semantic pin for the codegen'd expression. */
  private[graft] def simhashRef(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val vote = udaf(SimhashAgg, org.apache.spark.sql.Encoders.scalaLong)
    docs.select(col(idCol).as("doc_id"), explode(TextFns.distinctTokens(col(textCol))).as("t"))
      .groupBy(col("doc_id"))
      .agg(vote(xxhash64(col("t"))).as("simhash"))
  }

  /** SEPARATION AUDIT of the SimHash fingerprint — the recallAudit
    * graduation pattern for hash-dependent operators: the fingerprints
    * themselves depend on xxhash64 (not SQL-expressible), but their
    * separation CONTRACT — near-duplicate documents land close in Hamming
    * space, unrelated documents land far — is a deterministic pure
    * function of the corpus. Two populations, both with oracle-exact
    * denominators: exact 3-gram-Jaccard ≥ `jThresh` pairs (the near-dup
    * ground truth the relational tier computes), and consecutive-id pairs
    * (the unbiased background sample — no hashing in its definition).
    * Per population one row (population, n_pairs, bound_milli, ok) where
    * ok compares the MEAN Hamming distance against the bound in exact
    * integer arithmetic (Σh·1000 vs bound·n — no floating point to drift
    * cross-engine). A broken hash, vote, or band pipeline collapses the
    * separation and flips an ok. Bounds sit ~60% from the measured means
    * (near ≈ 5.4–5.7 bits vs ceiling 9; background ≈ 14.2–14.3 bits vs
    * floor 11). Empty populations audit vacuously true (0 ≤ 0). */
  def simhashSeparation(docs: DataFrame, textCol: String, idCol: String,
                        jThresh: Double = 0.9,
                        nearCeilMilli: Long = 9000L, bgFloorMilli: Long = 11000L): DataFrame = {
    val fp = SessionFrames.track(simhash(docs, textCol, idCol))
    def stats(pairs: DataFrame, pop: String, boundMilli: Long, isCeil: Boolean) = {
      val h = pairs
        .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("__ha")), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("__hb")), "doc_b")
        .select(bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("__h"))
        .agg(count(lit(1)).as("n_pairs"), coalesce(sum(col("__h")), lit(0L)).as("__s"))
      val cmp =
        if (isCeil) col("__s") * 1000L <= lit(boundMilli) * col("n_pairs")
        else col("__s") * 1000L >= lit(boundMilli) * col("n_pairs")
      h.select(lit(pop).as("population"), col("n_pairs"),
        lit(boundMilli).as("bound_milli"), cmp.as("ok"))
    }
    val near = ngramJaccard(docs, textCol, idCol, n = 3, threshold = 0.5)
      .filter(col("jaccard") >= jThresh).select(col("doc_a"), col("doc_b"))
    val ids = fp.select(col("doc_id"))
    val bg = ids.select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    stats(bg, "background", bgFloorMilli, isCeil = false)
      .unionByName(stats(near, "neardup", nearCeilMilli, isCeil = true))
      .transform(graft.Tables.orderedReport(_, "population"))
  }

  /** SimHash near-dup pairs: collide on one of four 16-bit bands, then
    * verify Hamming distance ≤ maxHamming via bit_count(xor). */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String, maxHamming: Int): DataFrame = {
    // both sides of the band self-join re-read the fingerprints
    val fp = SessionFrames.track(simhash(docs, textCol, idCol))
    val bandCols = (0 until 4).map(b => shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL))
    val banded = fp.select(col("doc_id"), col("simhash"), posexplode(array(bandCols: _*)).as(Seq("band", "key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** URL canonicalization — the dedup tier every web-corpus pipeline runs
    * BEFORE text dedup (C4/RefinedWeb drop by normalized URL first; it's
    * free compared to any text tier). Pure row-local column expression —
    * zero shuffles at any corpus size; the groupBy on the canonical key is
    * the caller's one exchange. Rules (the standard canonical-URL set):
    *  - fragment dropped (`#…` never reaches the server);
    *  - scheme dropped (http/https serve the same document in a crawl);
    *  - host lowercased (DNS is case-insensitive; safe for IDN because
    *    wire-format hosts are punycode ASCII), leading `www.` and default
    *    ports `:80`/`:443` stripped — NON-default ports are kept, and path
    *    case is PRESERVED (paths are case-sensitive);
    *  - tracking query params dropped (`utm_*`, `gclid`, `fbclid`, `ref`),
    *    real params kept; separator debris (`?&`, `&&`, trailing `?`/`&`)
    *    collapsed;
    *  - trailing path slash dropped (before the query or at the end).
    * Regex subset chosen to evaluate identically under Java regex (engine)
    * and RE2 (oracle): no lookaround, no backreferences in patterns. */
  def urlCanon(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noScheme = regexp_replace(noFrag, "(?i)^https?://", "")
    val hostPort = regexp_extract(noScheme, "^[^/?]+", 0)
    val rest = regexp_replace(noScheme, "^[^/?]+", "")
    val host = regexp_replace(
      regexp_replace(lower(hostPort), "^www\\.", ""), ":(80|443)$", "")
    val noTrack = regexp_replace(rest,
      "(?i)([?&])(utm_[^&=]*|gclid|fbclid|ref)=[^&]*", "$1")
    val collapsed = regexp_replace(
      regexp_replace(regexp_replace(noTrack, "\\?&+", "?"), "&&+", "&"),
      "[?&]+$", "")
    val noSlash = regexp_replace(collapsed, "/+(\\?|$)", "$1")
    concat(host, noSlash)
  }
}
