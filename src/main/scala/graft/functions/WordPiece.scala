package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bounded, Cut, Tables, U}

/** WordPiece subword tokenizer — the BERT-family third member next to
  * BPE ([[Bpe]], greedy merges) and unigram-LM ([[Unigram]], Viterbi):
  * training is a BPE-shaped merge loop scored by
  * `pair_freq / (left_freq · right_freq)` (the likelihood-gain
  * criterion of Schuster & Nakajima 2012, as documented for the
  * HuggingFace `tokenizers` WordPiece trainer), and apply is greedy
  * LONGEST-MATCH-FIRST with `##` continuation prefixes and a whole-word
  * `[UNK]` fallback.
  *
  * Scale posture mirrors [[Bpe]] exactly — the two halves have opposite
  * profiles and stay apart:
  *
  *   - '''Training''' iterates on the WORD-FREQUENCY vocabulary: under
  *     [[Bounded.DriverVocabCap]] the merge rounds collapse to one collect
  *     + a driver loop (each distributed round is 2 tiny aggregates +
  *     a 1-row argmax over a vocabulary-bounded table — pure scheduler
  *     round-trips at any realistic vocab); above it the distributed
  *     twin runs the same semantics with per-round pair+symbol count
  *     aggregates and a map-side merge kernel. Corpus size only ever
  *     affects the first word-count scan.
  *   - '''Apply''' is embarrassingly parallel and VOCABULARY-scaled:
  *     distinct words tokenize once in a mapPartitions kernel under a
  *     broadcast vocab set (longest-match is a per-word loop, no join,
  *     no shuffle), then re-join occurrence counts per document.
  *
  * Universe contract (mirrored in the oracle): words of code-point
  * length 1..[[Unigram.MaxWordLen]] containing no `#` — the continuation
  * marker must not collide with corpus text (the same reasoning as the
  * BPE oracle's `|` delimiter guard, enforced by filtering rather than
  * erroring because `#` can legitimately occur in text).
  *
  * BOTH halves are oracled (VERDICT r14 item 5's prescribed pattern).
  * TRAINING: the scored merge loop unrolls into [[nMerges]] SQL rounds
  * (symbol counts + pair counts → score argmax → replace()-merge), so
  * DuckDB independently recomputes the learned rules from the corpus —
  * not the engine's rules echoed back; WordPieceSpec additionally pins
  * the trainer against an independent reference and the distributed
  * twin against the driver path. APPLY: the trained vocabulary replays
  * as literals and the greedy longest-match walk unrolls as one
  * MATERIALIZED stage per word position (longest candidate per (word,
  * pos) precomputed in one join, then the walk advances through the
  * position stages — greedy has a single state per word, so each stage
  * is a 1-row-per-word join). Score doubles cross the engines as exact
  * ratios of BIGINTs rounded through the round6 bridge.
  */
object WordPiece {
  /** Merge rules learned — same regime as [[Bpe.nMerges]]. */
  val nMerges = 12
  /** Continuation marker (BERT convention). */
  val Cont = "##"

  /** (rank, left, right, merged, pair_freq, score). */
  type Rule = (Int, String, String, String, Long, Double)

  /** (rules, vocab) last served — the oracles replay it (graft.Verify
    * reads oracle SQL AFTER running queries). */
  private def lastModel: Option[(Seq[Rule], Set[String])] =
    graft.Derived.latest("wordpiece_model")

  /** Trained model for a dataset: (merge rules, final token vocabulary).
    * The vocabulary is the WordPiece alphabet — BOTH forms (initial and
    * `##`-continuation) of every character seen in the universe — plus
    * every merge product. A [[graft.Derived]] entry of the documents table. */
  def model(s: SparkSession, d: String): (Seq[Rule], Set[String]) =
    graft.Derived.get(s, "wordpiece_model", d, "documents")(_ => train(s, d))

  /** Qualifying distinct words with frequencies (see universe contract). */
  private def wordTable(s: SparkSession, d: String): DataFrame =
    U.fan(Tables.t(s, d, "documents").select(col("text")))
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(Unigram.qualifying(col("word"), noHash = true))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Word → WordPiece symbol sequence: first code point plain, the rest
    * `##`-prefixed. Code-point units throughout (the [[Unigram]]
    * ADVICE-r14 lesson applied from day one). */
  private[graft] def encode(w: String): Array[String] = {
    val c = Unigram.codePoints(w)
    Array.tabulate(c.length) { i =>
      val ch = new String(c, i, 1)
      if (i == 0) ch else Cont + ch
    }
  }

  private def stripCont(t: String): String =
    if (t.startsWith(Cont)) t.substring(Cont.length) else t

  /** Driver-side trainer — the reference semantics: per round, weighted
    * symbol counts and adjacent-pair counts over the current encoding;
    * eligible pairs need pair_freq ≥ 2 (a pair seen once can't
    * compress — the same floor as [[Bpe]]); argmax by (score desc,
    * left, right); merged token = left + right-without-`##`; greedy
    * left-to-right non-overlapping replacement. */
  private[graft] def trainLocal(words: Seq[(String, Long)]): Seq[Rule] = {
    var vocab: Array[(Array[String], Long)] =
      words.iterator.map { case (w, f) => (encode(w), f) }.toArray
    val rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val sym = scala.collection.mutable.HashMap
        .empty[String, Long].withDefaultValue(0L)
      val pair = scala.collection.mutable.HashMap
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length) {
          sym(syms(i)) += f
          if (i < syms.length - 1) pair((syms(i), syms(i + 1))) += f
          i += 1
        }
      }
      // denominator multiplies as DOUBLES everywhere (engine, twin,
      // oracle): a BIGINT product of two corpus-scale counts overflows
      // Long; each count is exact in double well past any real corpus
      // (< 2^53) and the single-rounding product is identical across
      // the three computations
      val eligible = pair.iterator.filter(_._2 >= 2L).map {
        case ((a, b), pc) =>
          (a, b, pc, pc.toDouble / (sym(a).toDouble * sym(b).toDouble))
      }.toSeq
      if (eligible.isEmpty) exhausted = true
      else {
        val (a, b, pc, score) =
          eligible.minBy { case (x, y, _, sc) => (-sc, x, y) }
        val merged = a + stripCont(b)
        rules += ((rank, a, b, merged, pc, score))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.toArray, f)
        }
        rank += 1
      }
    }
    rules.toSeq
  }

  /** The distributed training twin (the 100 TB path, past
    * [[Bounded.DriverVocabCap]]): per round one pair-count aggregate, one
    * symbol-count aggregate, a 1-row argmax collect, and a map-side
    * merge over vocab rows, each round's rows a [[Cut.rounds]]
    * generation. Same semantics as [[trainLocal]], pinned by
    * WordPieceSpec's planted-corpus twin test. */
  private[graft] def trainDistributed(words: DataFrame): Seq[Rule] = {
    val s = words.sparkSession
    val sess = s; import sess.implicits._
    val rules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    Cut.rounds(words.as[(String, Long)]
        .map { case (w, f) => (encode(w).toSeq, f) }
        .toDF("syms", "freq")) { vocab =>
      var exhausted = false
      while (rules.size < nMerges && !exhausted) {
        val cur = vocab.current
        val symCnt = cur
          .select(explode(col("syms")).as("tok"), col("freq"))
          .groupBy("tok").agg(sum(col("freq")).as("cnt"))
        val pairCnt = cur
          .select(explode(arrays_zip(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"),
            col("freq"))
          .select(col("p.0").as("a"), col("p.1").as("b"), col("freq"))
          .groupBy("a", "b").agg(sum(col("freq")).as("pc"))
          .filter(col("pc") >= 2)
        val top = pairCnt
          .join(symCnt.withColumnRenamed("tok", "a")
            .withColumnRenamed("cnt", "ca"), "a")
          .join(symCnt.withColumnRenamed("tok", "b")
            .withColumnRenamed("cnt", "cb"), "b")
          .select(col("a"), col("b"), col("pc"),
            (col("pc").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double")))
              .as("score"))
          .orderBy(col("score").desc, col("a"), col("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b, pc, score) = (top(0).getString(0), top(0).getString(1),
            top(0).getLong(2), top(0).getDouble(3))
          val merged = a + stripCont(b)
          rules += ((rules.size + 1, a, b, merged, pc, score))
          vocab.advance(cur.as[(Seq[String], Long)].map { case (syms, f) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += merged; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toSeq, f)
          }.toDF("syms", "freq"))(_.count())
        }
      }
    }
    rules.toSeq
  }

  private def train(s: SparkSession, d: String): (Seq[Rule], Set[String]) = {
    val sess = s; import sess.implicits._
    val words = wordTable(s, d)
    val (rules, wordSeq) =
      Bounded.path("wordpiece_train")(
          Bounded.rows(words, Bounded.DriverVocabCap)) match {
        case Some(vocab) =>
          graft.Attrib.note("wordpiece_vocab", vocab.length.toLong)
          val ws = vocab.toSeq.map(r => (r.getString(0), r.getLong(1)))
          (trainLocal(ws), ws.map(_._1))
        case None =>
          (trainDistributed(words),
            // alphabet still needs the distinct code points — one tiny
            // vocabulary-bounded aggregate, collected as chars not words
            words.select(explode(split(col("word"), "")).as("c"))
              .filter(length(col("c")) > 0).distinct()
              .as[String].collect().toSeq)
      }
    // alphabet: both forms of every code point seen in the universe
    val alphabet = wordSeq.iterator.flatMap { w =>
      val c = Unigram.codePoints(w)
      (0 until c.length).iterator.map(i => new String(c, i, 1))
    }.toSet
    val vocab = alphabet ++ alphabet.map(Cont + _) ++ rules.map(_._4)
    (rules, vocab)
  }

  /** Greedy longest-match-first tokenization of one word: number of
    * pieces, or None when some position has no matching token (the
    * word becomes ONE `[UNK]` piece). Code-point indexing. */
  private[graft] def wpPieces(w: String, vocab: Set[String]): Option[Int] = {
    val c = Unigram.codePoints(w)
    val n = c.length
    var pos = 0
    var np = 0
    while (pos < n) {
      var l = n - pos
      var found = -1
      while (l >= 1 && found < 0) {
        val sub = new String(c, pos, l)
        val tok = if (pos == 0) sub else Cont + sub
        if (vocab.contains(tok)) found = l else l -= 1
      }
      if (found < 0) return None
      pos += found
      np += 1
    }
    Some(np)
  }

  /** (word, n_pieces, is_unk) for every distinct qualifying corpus word
    * under the memoized model — vocabulary-bounded, broadcasts. */
  private[functions] def scoredWords(s: SparkSession, d: String): DataFrame =
    scoredOf(s, d, wordTable(s, d).select("word"))

  /** Piece-count an explicit distinct-word table under the trained
    * model (the [[Unigram.scoredOf]] seam, r18): lets
    * [[TokenizerCompare]] feed every tokenizer from one shared corpus
    * scan. Callers must pass exactly [[wordTable]]'s qualifying-word
    * universe for apply-identical results. */
  private[functions] def scoredOf(s: SparkSession, d: String,
      words: DataFrame): DataFrame = {
    val sess = s; import sess.implicits._
    val vocab = model(s, d)._2
    val bc = s.sparkContext.broadcast(vocab)
    words.as[String]
      .mapPartitions { it =>
        val v = bc.value
        it.map { w =>
          wpPieces(w, v) match {
            case Some(np) => (w, np.toLong, 0L)
            case None => (w, 1L, 1L) // whole-word [UNK]: one piece
          }
        }
      }.toDF("word", "wnp", "wunk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table — what a WordPiece trainer ships beyond
    // the alphabet. Fully oracled: DuckDB recomputes the scored merge
    // loop independently (see trainOracleSql).
    "vocab_wordpiece_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      // raw score is an exact ratio of longs — identical cross-engine;
      // rounded for the comparator through U.round6 (the engine-stable
      // round spelling, same as the oracle's round(x*1e6)/1e6)
      model(s, d)._1
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq",
          "score")
        .withColumn("score", U.round6(col("score")))
        .orderBy("rank")
    }),

    // Tokenize the corpus: per-document word/piece/[UNK] accounting —
    // the fertility readout plus the UNK rate a vocab owner watches.
    // Words score ONCE (distinct-word kernel, broadcast back onto the
    // occurrence counts); all outputs exact longs.
    "vocab_wordpiece_apply" -> ((s, d) => {
      val scored = scoredWords(s, d)
      // Instances join the broadcast scored table DIRECTLY (r18): the
      // old (doc_id, word) pre-aggregate shuffled the full word-instance
      // stream just to compress it before the broadcast probe — but the
      // probe is O(1) per row and every per-doc sum is an exact integer
      // (Σ wnp over instances ≡ Σ cnt·wnp over pairs), so one map-side-
      // combining per-doc aggregate after the join carries only per-doc
      // partials through the exchange. (vocab_unigram_apply keeps the
      // pair shape: its logprob rounds on the cnt-weighted PRODUCT, a
      // bridge the instance sum would not replicate bit-for-bit.)
      val inst = U.fan(Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(Unigram.qualifying(col("word"), noHash = true))
      inst.join(broadcast(scored), "word")
        .groupBy("doc_id")
        // sum(1L), not count(*): keeps n_words NULLABLE like the old
        // sum(cnt) so the output schema stays byte-identical
        .agg(U.lng(sum(lit(1L))).as("n_words"),
          U.lng(sum(col("wnp"))).as("n_pieces"),
          U.lng(sum(length(col("word")))).as("n_chars"),
          U.lng(sum(col("wunk"))).as("n_unk"))
        .orderBy("doc_id")
    }))

  /** Training replay: the scored merge loop UNROLLED as nMerges DuckDB
    * rounds over the `|t1||t2||…|` encoding ([[Bpe]]'s, with `##`
    * continuation markers inside the tokens) — each round recomputes
    * weighted SYMBOL counts and adjacent-PAIR counts, takes the
    * (score DESC, a, b) argmax with the pc ≥ 2 floor, and applies the
    * merge as one replace() (COALESCE to chr(1) no-ops exhausted
    * rounds). Working CTEs MATERIALIZED (each round references its
    * predecessor several times). Independent recomputation, NOT the
    * engine's rules echoed back. */
  private def trainOracleSql: String = {
    val rounds = (0 until nMerges).map { r =>
      s"""tt$r AS (SELECT string_split(substr(s, 2, len(s) - 2), '||') AS t,
         |  freq FROM w$r),
         |sym$r AS MATERIALIZED (
         |  SELECT tok, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(t) AS tok, freq FROM tt$r) GROUP BY 1),
         |pp$r AS (
         |  SELECT t, freq, unnest(generate_series(1, len(t) - 1)) AS i
         |  FROM tt$r),
         |cnts$r AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS pc
         |  FROM pp$r GROUP BY 1, 2),
         |top$r AS MATERIALIZED (
         |  SELECT c.a, c.b, c.pc,
         |    c.a || CASE WHEN c.b LIKE '##%' THEN substr(c.b, 3)
         |               ELSE c.b END AS m,
         |    CAST(c.pc AS DOUBLE) /
         |      (CAST(sa.cnt AS DOUBLE) * CAST(sb.cnt AS DOUBLE)) AS score
         |  FROM cnts$r c
         |  JOIN sym$r sa ON sa.tok = c.a JOIN sym$r sb ON sb.tok = c.b
         |  WHERE c.pc >= 2
         |  ORDER BY score DESC, c.a, c.b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(s,
         |    COALESCE((SELECT '|' || a || '||' || b || '|' FROM top$r), chr(1)),
         |    COALESCE((SELECT '|' || m || '|' FROM top$r), chr(1))) AS s,
         |    freq
         |  FROM w$r)""".stripMargin
    }
    val union = (0 until nMerges).map { r =>
      s"SELECT ${r + 1} AS rank, a AS left_sym, b AS right_sym, m AS merged," +
        s" pc AS pair_freq, round(score * 1000000) / 1000000 AS score FROM top$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${wordsSql("words")},
       |w0 AS MATERIALIZED (
       |  SELECT CASE WHEN word LIKE '%|%'
       |    THEN error('wordpiece oracle: word contains the | delimiter')
       |    ELSE '|' || substr(word, 1, 1) ||
       |    CASE WHEN len(word) > 1
       |         THEN '||##' ||
       |           array_to_string(string_split(substr(word, 2), ''), '||##')
       |         ELSE '' END || '|' END AS s, freq
       |  FROM words),
       |${rounds.mkString(",\n")}
       |SELECT * FROM (
       |$union) ORDER BY rank""".stripMargin
  }

  /** The qualifying-words CTE body (universe contract, shared by both
    * oracles). */
  private def wordsSql(name: String): String =
    s"""$name AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) BETWEEN 1 AND ${Unigram.MaxWordLen}
       |    AND w NOT LIKE '%#%' GROUP BY 1)""".stripMargin

  /** Apply replay for a trained vocabulary: candidates = one substr
    * join of (word, start, len) against the vocab literals (`##` form
    * off word start), `best` = the longest match per position (greedy),
    * then the walk unrolls one stage per position — greedy keeps ONE
    * state per word, each stage a 1-row-per-word join. Words whose walk
    * strands (no candidate at the current position) are `[UNK]` = one
    * piece. */
  private def applyOracleSqlFor(vocab: Set[String]): String = {
    def esc(x: String) = x.replace("'", "''")
    val maxLen = vocab.iterator
      .map(t => stripCont(t).codePointCount(0, stripCont(t).length))
      .max
    val vals = vocab.toSeq.sorted.map(t => s"('${esc(t)}')")
      .mkString(",\n    ")
    val stages = (1 to Unigram.MaxWordLen).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT g.word, g.pos + b.L AS pos, g.np + 1 AS np
         |  FROM gall${k - 1} g JOIN best b ON b.word = g.word AND b.s = $k
         |  WHERE g.pos = $k),
         |gall$k AS MATERIALIZED (
         |  SELECT * FROM gall${k - 1} UNION ALL SELECT * FROM g$k)""".stripMargin
    }
    s"""vocab(tok) AS (VALUES
       |    $vals),
       |tokk AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents),
       |tw AS (
       |  SELECT doc_id, w AS word, count(*) AS cnt FROM tokk
       |  WHERE length(w) BETWEEN 1 AND ${Unigram.MaxWordLen}
       |    AND w NOT LIKE '%#%'
       |  GROUP BY 1, 2),
       |words AS (SELECT DISTINCT word FROM tw),
       |cand AS MATERIALIZED (
       |  SELECT w.word, s, L
       |  FROM words w
       |  CROSS JOIN range(1, ${Unigram.MaxWordLen + 1}) AS rs(s)
       |  CROSS JOIN range(1, ${maxLen + 1}) AS rl(L)
       |  JOIN vocab v ON v.tok =
       |    CASE WHEN s = 1 THEN substr(w.word, 1, L::INT)
       |         ELSE '##' || substr(w.word, s::INT, L::INT) END
       |  WHERE s + L - 1 <= length(w.word)),
       |best AS MATERIALIZED (
       |  SELECT word, s, max(L) AS L FROM cand GROUP BY 1, 2),
       |gall0 AS (SELECT word, 1 AS pos, 0 AS np FROM words),
       |${stages.mkString(",\n")},
       |unk AS (
       |  SELECT DISTINCT g.word FROM gall${Unigram.MaxWordLen} g
       |  LEFT JOIN best b ON b.word = g.word AND b.s = g.pos
       |  WHERE g.pos <= length(g.word) AND b.word IS NULL),
       |scored AS (
       |  SELECT w.word,
       |    COALESCE(d.np, 1) AS wnp,
       |    CASE WHEN u.word IS NULL THEN 0 ELSE 1 END AS wunk
       |  FROM words w
       |  LEFT JOIN gall${Unigram.MaxWordLen} d
       |    ON d.word = w.word AND d.pos = length(w.word) + 1
       |  LEFT JOIN unk u ON u.word = w.word)""".stripMargin
  }

  private def applySelectSql(vocab: Set[String]): String =
    s"""WITH ${applyOracleSqlFor(vocab)}
       |SELECT t.doc_id,
       |  CAST(sum(t.cnt) AS BIGINT) AS n_words,
       |  CAST(sum(t.cnt * sc.wnp) AS BIGINT) AS n_pieces,
       |  CAST(sum(t.cnt * length(t.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(t.cnt * sc.wunk) AS BIGINT) AS n_unk
       |FROM tw t JOIN scored sc ON sc.word = t.word
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until the model has trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    lastModel.map { case (_, v) => applySelectSql(v) }

  def oracles: Map[String, String] =
    Map("vocab_wordpiece_train" -> trainOracleSql) ++ (lastModel match {
      case None => Map.empty
      case Some((_, v)) => Map("vocab_wordpiece_apply" -> applySelectSql(v))
    })
}
