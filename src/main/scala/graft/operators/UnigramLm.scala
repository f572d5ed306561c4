package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftNative}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece / Kudo-2018 family) — the
  * second trained-tokenizer operator next to [[BpeTrain]]: a seed
  * piece vocabulary scored from substring frequencies, the E-step's
  * Viterbi-best segmentation of every distinct word under those piece
  * scores, and the M-step's piece-usage recount.
  *
  * Scale shape: every corpus-scale stage is a word-count rollup; the
  * vocabulary build, candidate join (pieces ≤ 4 chars → ≤ 4·|w|
  * candidates per word against the BROADCAST vocab) and the per-word
  * Viterbi fold all run over the Zipf-bounded DISTINCT-word table.
  * The fold is a per-row aggregate HOF with an interleaved
  * [dp0,bp0,dp1,bp1,…] accumulator — O(|w|·4) per word, codegen-free
  * but bounded — and the backtrace is a second bounded walk.
  *
  * Determinism: piece scores are round-6 log-probs (both engines
  * round the same-to-within-ULP ln to the same double), Viterbi
  * compares identical doubles with ties broken toward the SMALLEST
  * start (longest piece), and all tie-breaks on counts are
  * lexicographic — the DuckDB oracle replays the identical fold with
  * the repo's flat-list encoding.
  */
object UnigramLm {

  val MaxPieceLen = 4

  /** Distinct-word counts → (piece, freq) seed vocabulary: top
    * `vocabTop` multi-char pieces by (weighted substring frequency
    * desc, piece asc) plus ALL single characters (coverage). */
  def seedVocab(wordCounts: DataFrame, vocabTop: Int): DataFrame = {
    val subs = wordCounts
      .select(col("w"), col("wc"),
        explode(expr(
          s"""flatten(transform(sequence(1, $MaxPieceLen), l ->
             |  CASE WHEN length(w) >= l THEN
             |    transform(sequence(0, length(w) - l),
             |      s -> substring(w, s + 1, l))
             |  ELSE cast(array() as array<string>) END))""".stripMargin))
          .as("piece"))
      .groupBy("piece").agg(sum("wc").as("freq"))
    val top = subs.filter(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece")).limit(vocabTop)
    val chars = subs.filter(length(col("piece")) === 1)
    val vocab = top.unionByName(chars)
    val tot = vocab.agg(sum("freq").as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"), col("freq"),
        round(log(col("freq").cast("double")) -
          log(col("tot").cast("double")), 6).as("lp"))
  }

  /** Per distinct word: the Viterbi-best segmentation under `vocab`
    * (piece, lp) — output (w, wc, pieces array, best_logp). */
  def viterbi(wordCounts: DataFrame, vocab: DataFrame): DataFrame = {
    val cands = wordCounts
      .select(col("w"), col("wc"),
        explode(expr(
          s"""flatten(transform(sequence(1, length(w)), i ->
             |  transform(sequence(greatest(0, i - $MaxPieceLen), i - 1),
             |    j -> struct(i as i, j as j,
             |      substring(w, j + 1, i - j) as piece))))""".stripMargin))
          .as("c"))
      .select(col("w"), col("wc"), col("c.i").as("i"), col("c.j").as("j"),
        col("c.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("lp"))), Seq("piece"))
      .groupBy("w", "wc")
      .agg(collect_list(struct(col("i"), col("j"), col("lp"))).as("cands"))
    // native one-pass DP + backtrace (the SQL fold pair it replaces ran
    // interpreted, re-filtered cands per position and re-allocated the
    // accumulator per step) — same max, same (v, smallest-j) tie-break,
    // same SQL-substring pieces; best_logp keeps the SQL round
    cands.withColumn("vit", graft.functions.expressions
        .UnigramViterbiExpr.column(col("w"), col("cands")))
      .select(col("w"), col("wc"),
        round(col("vit.lp"), 6).as("best_logp"),
        col("vit.pieces").as("pieces"))
  }

  /** One full E+M pass: (piece, freq, lp, m_count, n_words_using). */
  def emRound(wordCounts: DataFrame, vocabTop: Int): DataFrame = {
    val vocab = seedVocab(wordCounts, vocabTop)
      // feeds the candidate join AND the output
      .transform(GraftNative.persistRows)
    val seg = viterbi(wordCounts, vocab)
    val usage = seg
      .select(col("wc"), col("w"), explode(col("pieces")).as("piece"))
      .groupBy("piece")
      .agg(sum("wc").as("m_count"),
        count_distinct(col("w")).as("n_words_using"))
    vocab.join(usage, Seq("piece"), "left")
      .select(col("piece"), col("freq"), col("lp"),
        coalesce(col("m_count"), lit(0L)).as("m_count"),
        coalesce(col("n_words_using"), lit(0L)).as("n_words_using"))
  }
}
