package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE tokenizer training (Sennrich-style merge induction) over a
  * word-count table — the tokenizer-fitting stage of a training-data
  * pipeline, run where the data lives instead of on a driver sample.
  *
  * Each round: count adjacent symbol pairs weighted by word frequency
  * (overlapping positions count, as in the reference algorithm), pick
  * the global argmax (ties broken lexicographically), and apply the
  * merge greedily left-to-right (non-overlapping) to every word's
  * symbol sequence.
  *
  * Scale shape: the input is the DISTINCT-word count table — Zipf-
  * bounded, orders of magnitude smaller than the corpus — so the only
  * corpus-scale stage is the word count itself (one shuffle). Each
  * round is a pair-explode + one aggregation over the vocab table plus
  * a broadcast of the single winning pair; the fold that applies a
  * merge is a per-row higher-order function, no UDF. Lineage across
  * rounds is cut with a lazy localCheckpoint exactly like
  * [[Similarity.ivfFit]].
  */
object BpeTrain {

  /** Greedy left-to-right merge application: rewrite symbol array `s`,
    * replacing each non-overlapping adjacent (a, b) with the merged
    * token. Native one-pass kernel — bit-identical to the skip-flag
    * `aggregate` fold it replaces (the fold's per-element
    * `concat(acc.out, array(...))` copy made it O(|s|²) per word per
    * round, interpreted; equivalence is property-pinned in KernelProps
    * against the literal SQL fold). */
  private def applyMerge(s: String, a: String, b: String) =
    graft.functions.expressions.BpeMergeExpr.column(col(s), col(a), col(b))

  /** Learn `rounds` merges from `words`(w, wc). Returns one row per
    * merge: (round, left, right, merged, pair_count) — FEWER than
    * `rounds` rows when the vocab fully merges first (every word down
    * to one symbol): the loop detects pair exhaustion and stops,
    * rather than letting an empty argmax silently empty the vocab.
    * `rounds = 0` returns an empty frame with the same schema. */
  def merges(words: DataFrame, rounds: Int): DataFrame =
    trainWithVocab(words, rounds)._1

  /** [[merges]] plus the post-training vocab state `(w, wc, s)` — the
    * per-distinct-word token sequences after every learned merge has
    * been applied. This IS the BPE *encoder* table: encoding a corpus
    * replays the merge list in rank order per word, which is exactly
    * the evolution the trainer already performed on its (Zipf-bounded)
    * distinct-word table; a corpus is then tokenized by joining each
    * word occurrence against this table, so the expensive per-word
    * merge folds run once per DISTINCT word, never per occurrence. */
  def trainWithVocab(words: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // per-code-point split: CharsExpr equals
    // `filter(split(w, ''), x -> x != '')` here because every `w` is a
    // whitespace-tokenized word (contains no whitespace byte), and both
    // forms emit one element per code point in order
    var vocab = words.select(col("w"), col("wc"),
      graft.functions.expressions.CharsExpr.column(col("w")).as("s"))
    var learned = Vector.empty[DataFrame]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val best = vocab
        // single-symbol words have no pairs (sequence(0, -1) would run
        // DESCENDING in Spark, not empty — guard, don't rely on it)
        .filter(size(col("s")) >= 2)
        // native adjacent-pair kernel (the interpreted transform-HOF
        // form `transform(sequence(0, size(s)-2), i -> struct(s[i],
        // s[i+1]))` is CodegenFallback); field names differ (w1/w2) but
        // the groupBy aliases restore a/b — values identical
        .select(col("wc"), explode(
          graft.functions.expressions.BigramsExpr.column(col("s"))).as("p"))
        .groupBy(col("p.w1").as("a"), col("p.w2").as("b"))
        .agg(sum("wc").as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1)
        .localCheckpoint(eager = false) // one tiny row; cut the lineage
      // pair exhaustion: no adjacent pairs left anywhere → stop. The
      // emptiness probe is one job over the (already tiny, checkpointed)
      // 0-or-1-row argmax, not over the vocab.
      if (best.isEmpty) { exhausted = true }
      else {
        learned = learned :+ best.select(lit(r + 1).as("round"),
          col("a").as("left"), col("b").as("right"),
          concat(col("a"), col("b")).as("merged"), col("pair_count"))
        vocab = vocab.crossJoin(broadcast(best))
          .withColumn("s", applyMerge("s", "a", "b"))
          .select("w", "wc", "s")
          .localCheckpoint(eager = false)
        r += 1
      }
    }
    val mergesDf =
      if (learned.isEmpty)
        words.select(lit(0).as("round"), lit("").as("left"),
          lit("").as("right"), lit("").as("merged"),
          lit(0L).as("pair_count")).limit(0)
      else learned.reduce(_ unionByName _)
    (mergesDf, vocab)
  }
}
