package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cut, Tables, U}

/** Tokenizer selection eval — the corpus-level readout a pipeline runs
  * before committing to a vocabulary: BPE ([[Bpe]]) vs byte-level BPE
  * ([[ByteBpe]]) vs unigram-LM ([[Unigram]]) vs WordPiece
  * ([[WordPiece]]) fertility (tokens per word) and compression (chars
  * per token) on the SAME corpus. Composition evidence by design:
  * every row aggregates the REGISTERED apply queries (the trained
  * models, reused, not re-derived), and the oracle composes the
  * engines' existing replay stacks (the two BPE replace-chains, the
  * unigram Viterbi DP, and the WordPiece longest-match walk) as
  * subqueries.
  *
  * Universe note (part of the contract, mirrored in the oracle): each
  * tokenizer reports over ITS OWN qualifying-word universe — both BPEs
  * over all non-empty words, unigram over words of length 1..
  * [[Unigram.MaxWordLen]], WordPiece over the same minus `#`-bearing
  * words — so n_words/n_chars can differ between the rows; the
  * per-word and per-token RATIOS are what the comparison is for, and
  * each is internally consistent. The bytebpe row's "n_chars" is its
  * native n_bytes (UTF-8 bytes ARE its alphabet; equal to chars on an
  * ASCII corpus) — chars_per_token reads bytes_per_token for that row.
  */
object TokenizerCompare {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // r18 reshape (VERDICT r17 item 3): the previous spelling composed
    // the four FULL apply queries, so the corpus was scanned, word-split
    // and kernel-tokenized four times (plus four per-doc aggregates the
    // comparison immediately re-summed away). Every per-word statistic
    // here depends only on the WORD, so ONE corpus scan + ONE
    // distinct-word aggregate (Zipf-bounded vocab) feeds all four
    // branches: the two BPE kernels run once per DISTINCT word instead
    // of once per occurrence, the unigram/WordPiece piece counts come
    // from the same broadcast scored tables the applies use, and the
    // corpus totals are occurrence-weighted (cnt ×) conditional sums in
    // ONE aggregate. All sums are exact integers, so the reshape is
    // bit-identical to the composed-replay totals (each tokenizer still
    // reports over ITS OWN qualifying-word universe — see the scaladoc).
    "vocab_compare_tokenizers" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val rules = Seq((
        Bpe.trainRules(s, d).map(r => s"${r._2} ${r._3}"),
        ByteBpe.trainRules(s, d).map(r => s"${r._2} ${r._3} ${r._2}_${r._3}")))
        .toDF("bpe_rules", "bb_rules")
      val charSyms = array_remove(split(col("word"), ""), "")
      // ONE corpus scan, cut (Zipf-bounded vocab rows): the two
      // scored-table broadcast builds below would otherwise each re-run
      // the scan+split+distinct lineage.
      val words = Cut.eager(U.fan(Tables.t(s, d, "documents").select(col("text")))
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt")))
      val uniWords = words.filter(Unigram.qualifying(col("word")))
        .select("word")
      val wpWords = words
        .filter(Unigram.qualifying(col("word"), noHash = true))
        .select("word")
      val vocab = words
        .crossJoin(broadcast(rules))
        .select(col("word"), col("cnt"),
          length(col("word")).as("wlen"),
          length(encode(col("word"), "UTF-8")).as("wbytes"),
          size(call_function("bpe_merge", charSyms, col("bpe_rules")))
            .as("bpe_t"),
          size(call_function("bpe_merge", ByteBpe.byteSyms(col("word")),
            col("bb_rules"))).as("bb_t"))
        .join(broadcast(Unigram.scoredOf(s, d, uniWords)
          .select(col("word"), col("wnp").as("uni_np"))), Seq("word"), "left")
        .join(broadcast(WordPiece.scoredOf(s, d, wpWords)
          .select(col("word"), col("wnp").as("wp_np"))), Seq("word"), "left")
      // universe flags replicate each apply's word filter + inner join:
      // both BPEs see every non-empty word; unigram sees length
      // 1..MaxWordLen words its Viterbi segmented (scored-table hit);
      // WordPiece the same minus '#'-bearing words.
      val uniOk = col("uni_np").isNotNull && Unigram.qualifying(col("word"))
      val wpOk = col("wp_np").isNotNull &&
        Unigram.qualifying(col("word"), noHash = true)
      def csum(flag: org.apache.spark.sql.Column,
          v: org.apache.spark.sql.Column) = U.lng(sum(when(flag, v)))
      val a = vocab.agg(
        U.lng(sum(col("cnt"))).as("bpe_w"),
        U.lng(sum(col("cnt") * col("bpe_t"))).as("bpe_t"),
        U.lng(sum(col("cnt") * col("wlen"))).as("bpe_c"),
        U.lng(sum(col("cnt") * col("bb_t"))).as("bb_t"),
        U.lng(sum(col("cnt") * col("wbytes"))).as("bb_c"),
        csum(uniOk, col("cnt")).as("uni_w"),
        csum(uniOk, col("cnt") * col("uni_np")).as("uni_t"),
        csum(uniOk, col("cnt") * col("wlen")).as("uni_c"),
        csum(wpOk, col("cnt")).as("wp_w"),
        csum(wpOk, col("cnt") * col("wp_np")).as("wp_t"),
        csum(wpOk, col("cnt") * col("wlen")).as("wp_c"))
      a.select(explode(array(
          struct(lit("bpe").as("tokenizer"), col("bpe_w").as("n_words"),
            col("bpe_t").as("n_tokens"), col("bpe_c").as("n_chars")),
          struct(lit("bytebpe").as("tokenizer"), col("bpe_w").as("n_words"),
            col("bb_t").as("n_tokens"), col("bb_c").as("n_chars")),
          struct(lit("unigram").as("tokenizer"), col("uni_w").as("n_words"),
            col("uni_t").as("n_tokens"), col("uni_c").as("n_chars")),
          struct(lit("wordpiece").as("tokenizer"), col("wp_w").as("n_words"),
            col("wp_t").as("n_tokens"), col("wp_c").as("n_chars")))).as("r"))
        .select(col("r.tokenizer").as("tokenizer"),
          col("r.n_words").as("n_words"), col("r.n_tokens").as("n_tokens"),
          col("r.n_chars").as("n_chars"))
        .select(col("tokenizer"), col("n_words"), col("n_tokens"),
          col("n_chars"),
          U.round6(col("n_tokens").cast("double") / col("n_words"))
            .as("tokens_per_word"),
          U.round6(col("n_chars").cast("double") / col("n_tokens"))
            .as("chars_per_token"))
        .orderBy("tokenizer")
    }))

  /** Dynamic: composes the four trained-model replays once all have
    * materialized (graft.Verify's run-queries-then-dump order
    * guarantees it — the compare query itself trains all four). */
  def oracles: Map[String, String] =
    (Bpe.applyOracleSqlCurrent, ByteBpe.applyOracleSqlCurrent,
      Unigram.applyOracleSqlCurrent,
      WordPiece.applyOracleSqlCurrent) match {
      case (Some(b), Some(bb), Some(u), Some(wp)) => Map(
        "vocab_compare_tokenizers" ->
          s"""SELECT tokenizer, n_words, n_tokens, n_chars,
             |  round(CAST(n_tokens AS DOUBLE) / n_words * 1000000)
             |    / 1000000 AS tokens_per_word,
             |  round(CAST(n_chars AS DOUBLE) / n_tokens * 1000000)
             |    / 1000000 AS chars_per_token
             |FROM (
             |  SELECT 'bpe' AS tokenizer,
             |    CAST(sum(n_words) AS BIGINT) AS n_words,
             |    CAST(sum(n_bpe_tokens) AS BIGINT) AS n_tokens,
             |    CAST(sum(n_chars) AS BIGINT) AS n_chars
             |  FROM (
             |$b
             |  ) bpe_rows
             |  UNION ALL
             |  SELECT 'bytebpe' AS tokenizer,
             |    CAST(sum(n_words) AS BIGINT) AS n_words,
             |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |    CAST(sum(n_bytes) AS BIGINT) AS n_chars
             |  FROM (
             |$bb
             |  ) bytebpe_rows
             |  UNION ALL
             |  SELECT 'unigram' AS tokenizer,
             |    CAST(sum(n_words) AS BIGINT) AS n_words,
             |    CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
             |    CAST(sum(n_chars) AS BIGINT) AS n_chars
             |  FROM (
             |$u
             |  ) uni_rows
             |  UNION ALL
             |  SELECT 'wordpiece' AS tokenizer,
             |    CAST(sum(n_words) AS BIGINT) AS n_words,
             |    CAST(sum(n_pieces) AS BIGINT) AS n_tokens,
             |    CAST(sum(n_chars) AS BIGINT) AS n_chars
             |  FROM (
             |$wp
             |  ) wp_rows)
             |ORDER BY tokenizer""".stripMargin)
      case _ => Map.empty
    }
}
