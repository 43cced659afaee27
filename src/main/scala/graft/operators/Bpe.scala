package graft.operators

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, Materialize}

/** Byte-pair-encoding vocabulary induction (Sennrich et al. 2016) —
  * tokenizer TRAINING as a distributed operator. The classic algorithm
  * is inherently iterative (each merge depends on the counts the
  * previous merge produced), and its Spark-correct shape is exactly
  * the one the original paper trains on: the corpus collapses ONCE to
  * the word-TYPE frame (word, freq) — vocabulary-cardinality, orders
  * of magnitude smaller than the corpus — and every merge round runs
  * on that frame alone. 100 TB of text costs one tokenize+count
  * shuffle; the N merge rounds never touch the corpus again.
  *
  * Representation — the boundary-safety invariant: a word is stored as
  * its symbol sequence joined by DOUBLE spaces and padded with one
  * space at each end (" h  e  l  l  o "). A merge of pair (x, y)
  * replaces the literal " x  y " with " xy ": because every symbol is
  * flanked by spaces and the pattern demands a space on each side, the
  * pattern can only ever align to WHOLE symbols — a pair like "h e"
  * can never fuse the tail of symbol "th" with a following "e" (the
  * classic substring-replacement bug; Sennrich's reference anchors
  * with lookaround, which SQL replace() lacks — the padding encodes
  * the same anchor as pure literal text). Each match consumes one
  * space from each side's double-space run, so neighbouring
  * boundaries survive for adjacent matches, and literal left-to-right
  * non-overlapping replacement — `replace()` semantics in every SQL
  * engine, quoted-literal `regexp_replace` in Spark — implements the
  * same greedy merge order as a symbol-list scan. Pair counts are raw
  * adjacent counts ("a a a" contributes (a,a) twice — the original
  * implementation's counting); argmax ties break on the pair string
  * (bytewise — symbols here are ASCII corpus tokens).
  *
  * Driver involvement per round is ONE collected row (the argmax
  * pair) — bounded by numMerges, the same discipline as the k-means
  * centroid fits. The word frame re-materializes every few rounds so
  * the lineage cannot grow linearly with numMerges (the
  * leakageSafeSplit fixpoint pattern). */
object Bpe {

  /** How many merge rounds ride one materialized lineage segment. */
  private val RematerializeEvery = 4

  /** Padded double-space symbol string of a word: "abc" → " a  b  c ".
    * Explicit per-index substring (not split-on-empty, whose edge
    * behavior differs between engines). */
  private[operators] def spacedPadded(word: org.apache.spark.sql.Column) =
    concat(lit(" "),
      array_join(
        transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
        "  "),
      lit(" "))

  /** Adjacent symbol pairs of a padded word: " a  b  c " →
    * ["a b", "b c"] (single-space pair strings — the merges-table
    * form); single-symbol words → empty. */
  private[operators] def adjacentPairs(paddedWord: org.apache.spark.sql.Column) = {
    val sy = split(trim(paddedWord), "  ")
    when(size(sy) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(sy) - 1),
        j => concat(element_at(sy, j), lit(" "), element_at(sy, j + 1))))
  }

  /** The boundary-anchored literal replace of one merge on the padded
    * representation: " x  y " → " xy ". */
  private def applyMergeCol(word: org.apache.spark.sql.Column,
      pair: String, merged: String) =
    regexp_replace(word,
      lit(Pattern.quote(" " + pair.replace(" ", "  ") + " ")),
      lit(Matcher.quoteReplacement(" " + merged + " ")))

  /** The word-type frame (word padded, freq) for a corpus — the one
    * corpus-sized pass; everything else iterates on its result. */
  private def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    // explode_OUTER + null filter above the Generate — an inner explode
    // pushes an inferred `size(words) > 0` (the full tokenizer tree)
    // into a per-row scan filter, tokenizing every doc twice
    // (TextAnalysis.bm25TopK documents the class)
    docs.select(explode_outer(TextAnalysis.bm25Words(col(textCol))).as("w"))
      .where(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(spacedPadded(col("w")).as("word"), col("freq"))

  /** Train `numMerges` BPE merges. Returns (rank, pair, merged, cnt)
    * rows in merge order — rank 1 is the first (highest-count) merge;
    * stops early if no adjacent pairs remain. The result is
    * driver-side (≤ numMerges rows by construction). */
  def trainBpeMerges(docs: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1 (got $numMerges)")
    var w = Materialize.once(wordTypes(docs, textCol), eager = true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    // AQE OFF for DEPTH-0 rounds only (r18, guide §1.2 step 3 applied
    // after steps 1-2, then NARROWED by an sf100 A/B): with AQE on,
    // every exchange in a round's argmax runs as its own Spark job, so
    // even a round reading straight off a checkpoint costs 2 driver
    // round-trips (44 jobs for 20 merges at sf0.1, per-job gap ~0.1 s
    // dominating the gate). For a depth-0 round — argmax directly on a
    // just-materialized word frame, ONE exchange, no joins — AQE has
    // nothing to re-plan (the take is per-partition top-1 either way),
    // so turning it off there is compute-identical at every scale and
    // halves that round's driver trips. For CHAINED rounds it is NOT
    // free: an all-rounds AQE-off measured 26.1 s vs 16.8-18.5 s
    // same-box solo at sf100 (the uncoalesced full-width chained
    // aggregates cost more than the saved round-trips), so chained
    // rounds — and the re-materialize jobs — keep AQE. Values are
    // unaffected either way (same plan modulo AQE wrappers). The
    // setting applies to the depth-0 argmax plan only (withConf), never
    // to the session other queries share.
    var r = 1
    var exhausted = false
    var depth0 = true // round 1 reads the eager wordTypes checkpoint
    while (r <= numMerges && !exhausted) {
      val src =
        if (depth0) GraftSession.withConf(w, "spark.sql.adaptive.enabled" -> "false")
        else w
      // explode_OUTER (same rationale as wordTypes): the inner form's
      // inferred filter re-inlines adjacentPairs — and, on rounds where
      // w is an unmaterialized merge chain, the whole regexp_replace
      // chain — into a per-row filter below the projection
      val best = src.select(explode_outer(adjacentPairs(col("word"))).as("pr"), col("freq"))
        .where(col("pr").isNotNull)
        .groupBy("pr").agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("pr")).limit(1)
        .collect() // exactly one row per round, numMerges rounds — bounded
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((r, pair, merged, cnt))
        val next = w
          .select(applyMergeCol(col("word"), pair, merged).as("word"), col("freq"))
          .groupBy("word").agg(sum("freq").as("freq"))
        if (r % RematerializeEvery == 0) {
          w = Materialize.once(next, eager = true)
          depth0 = true
        } else {
          w = next
          depth0 = false
        }
        r += 1
      }
    }
    merges.result()
  }

  /** Apply trained merges (in rank order, each applied fully before
    * the next — exactly the training semantics, so training words
    * re-tokenize to their trained segmentation) to a corpus: one
    * map-side pass via the native [[graft.functions.BpeSegmentWords]]
    * expression — plan depth is O(1) in the merge count (a per-merge
    * expression layer would stack-overflow Catalyst at real
    * vocabulary sizes), and the symbol-LIST merge inside the
    * expression is boundary-safe by construction. No shuffle — each
    * doc's words tokenize independently; word boundaries are never
    * crossed, as in training. Output: (idCol, bpe_tokens). */
  def applyBpeMerges(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    merges.foreach { case (pair, merged) =>
      require(pair.split(" ", -1).length == 2 && !pair.contains("  "),
        s"merge pair must be two space-separated symbols (got '$pair')")
      require(merged == pair.replace(" ", ""),
        s"merged symbol must be the pair's concatenation (got '$pair' -> '$merged')")
    }
    docs.select(col(idCol),
      graft.functions.TextFunctions.bpeSegmentWords(
        TextAnalysis.bm25Words(col(textCol)), merges.map(_._1)).as("bpe_tokens"))
  }
}
