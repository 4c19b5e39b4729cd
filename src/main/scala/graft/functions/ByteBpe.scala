package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Tables, U}

/** Byte-level BPE tokenizer — the GPT-2/tiktoken family (Radford et al.
  * 2019; Sennrich et al. 2016 merges over a 256-symbol BYTE alphabet)
  * completing the subword stable next to [[Bpe]] (char-level),
  * [[Unigram]] and [[WordPiece]].
  *
  * What byte-level changes vs the char-level [[Bpe]]:
  *
  *   - '''Alphabet = UTF-8 bytes, not characters.''' Every string is a
  *     byte sequence, so EVERY word is encodable — no `[UNK]`, no
  *     universe exclusions (the property that made GPT-2's tokenizer
  *     the production default). Symbols are spelled as decimal byte
  *     values (`"97"`), merged symbols join with `_` (`"97_98"`)
  *     because plain concatenation is ambiguous over decimal strings
  *     (`[1,11]` and `[11,1]` both concat to `"111"`); the spelling is
  *     delimiter-proof by construction (`[0-9_]` only), so the oracle's
  *     `|`-encoding needs no collision guard.
  *   - '''Pre-split at single spaces''' (the tiktoken regex-pre-split
  *     analog on this space-normalized synthetic corpus): merges never
  *     cross word boundaries, training runs on the (word, freq)
  *     vocabulary — corpus size only affects the first scan, the same
  *     contraction as [[Bpe]].
  *
  * Training is the [[BpeTrainer]] loop shared with [[Bpe]] (byte
  * spellings compare bytewise identically in Java and DuckDB, so the
  * (a, b) tie-break replays exactly). Apply reuses the
  * [[graft.plans.BpeMerge]] codegen kernel via its 3-field `"a b m"`
  * rule form.
  *
  * BOTH halves are oracled: training unrolls into nMerges DuckDB rounds
  * over the `|sym||sym|` encoding (byte symbols derived independently
  * by a code-point→UTF-8 CASE encoder — DuckDB `ord()` is a code point,
  * so the oracle re-derives the 1-4 byte expansion itself rather than
  * echoing the engine's bytes); apply replays the trained rules as a
  * replace() chain over the distinct-word vocabulary.
  */
object ByteBpe extends BpeTrainer {
  protected def name = "bytebpe"

  protected def seed(word: Column): Column = byteSyms(word)

  protected def seedLocal(word: String): Array[String] = byteSymsLocal(word)

  /** Decimal byte-value spelling of a merged symbol pair. */
  protected def merged(a: String, b: String): String = a + "_" + b

  /** UTF-8 byte symbols of a word as decimal strings — the engine-side
    * seeding. Codegen end to end: one binary `encode`, then per byte
    * position a 1-byte `substr` → `hex` → `conv(16,10)` (no lambda
    * UDFs; `transform` over `sequence` stays in whole-stage codegen).
    */
  private[graft] def byteSyms(word: Column): Column = {
    val bin = encode(word, "UTF-8")
    transform(sequence(lit(1), length(bin)),
      i => conv(hex(bin.substr(i, lit(1))), 16, 10))
  }

  /** JVM-side seeding twin of [[byteSyms]] (driver trainer + specs). */
  private[graft] def byteSymsLocal(w: String): Array[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => (b & 0xff).toString)

  /** Inverse of the tokenization (tiktoken `decode`): token spellings
    * → UTF-8 bytes → string. A token spells its bytes as `_`-joined
    * decimals (`"195_169"`), so the word's full byte sequence is the
    * `_`-flattened token list in order; each decimal becomes a 2-digit
    * hex pair and one `unhex` + `decode(UTF-8)` reassembles the word.
    * Codegen end to end (split/transform/conv/lpad/unhex/decode are
    * all built-ins) — the exact mirror of [[byteSyms]]'s
    * encode/substr/hex/conv seeding, so `decode(encode(w)) == w` holds
    * for EVERY string by construction (pinned over multibyte/emoji in
    * ByteBpeSpec, oracled corpus-wide by `vocab_bytebpe_decode`). */
  private[graft] def decodeToks(toks: Column): Column =
    decode(unhex(array_join(transform(
      split(array_join(toks, "_"), "_"),
      b => lpad(conv(b, 10, 16), 2, "0")), "")), "UTF-8")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The learned merge table — merges.txt of the byte-level family,
    // with the explicit merged spelling the 3-field kernel rule ships.
    "vocab_bytebpe_train" -> ((s, d) => {
      val sess = s; import sess.implicits._
      trainRules(s, d)
        .map(r => (r._1, r._2, r._3, merged(r._2, r._3), r._4))
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq")
        .orderBy("rank")
    }),

    // Tokenize the corpus: per-doc words/bytes/tokens accounting. Rules
    // reach the kernel as a broadcast scalar (the vocab_bpe_apply
    // pattern — production merges.txt is 50k-100k rules; a plan literal
    // per task is the thing that breaks first). No UNK column: byte
    // level makes every word encodable by construction.
    "vocab_bytebpe_apply" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val rules = Seq(Tuple1(
        trainRules(s, d).map(r => s"${r._2} ${r._3} ${merged(r._2, r._3)}")))
        .toDF("rules")
      val toks = U.fan(Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .crossJoin(broadcast(rules))
        .select(col("doc_id"),
          call_function("bpe_merge", byteSyms(col("word")),
            col("rules")).as("toks"),
          length(encode(col("word"), "UTF-8")).as("n_b"))
      toks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(col("n_b"))).as("n_bytes"),
          U.lng(sum(size(col("toks")))).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Detokenize (vocab_bytebpe_decode): encode then DECODE every word
    // and check the round trip corpus-wide — real pipelines run ids →
    // text as often as text → ids (tiktoken decode). n_chars counts
    // CHARACTERS of the decoded string (bytes ≠ chars exactly where
    // multibyte reassembly could break), n_roundtrip counts words
    // where decode(encode(w)) == w — byte level guarantees ALL of
    // them, and the oracle re-derives the inverse itself (hex → blob →
    // UTF-8) rather than trusting the engine's claim. Same broadcast-
    // rules map-only shape as apply: no shuffle before the final
    // per-doc aggregate.
    "vocab_bytebpe_decode" -> ((s, d) => {
      val sess = s; import sess.implicits._
      val rules = Seq(Tuple1(
        trainRules(s, d).map(r => s"${r._2} ${r._3} ${merged(r._2, r._3)}")))
        .toDF("rules")
      val toks = U.fan(Tables.t(s, d, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .crossJoin(broadcast(rules))
        .select(col("doc_id"), col("word"),
          call_function("bpe_merge", byteSyms(col("word")),
            col("rules")).as("toks"))
      toks
        .select(col("doc_id"), col("word"), col("toks"),
          decodeToks(col("toks")).as("dec"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          U.lng(sum(size(col("toks")))).as("n_tokens"),
          U.lng(sum(length(col("dec")))).as("n_chars"),
          U.lng(sum(when(col("dec") === col("word"), 1L)
            .otherwise(0L))).as("n_roundtrip"))
        .orderBy("doc_id")
    }))

  /** DuckDB-side byte seeding: `ord()` is a CODE POINT, so the oracle
    * expands each char to its 1-4 UTF-8 bytes itself (the standard
    * RFC 3629 arithmetic as a CASE over the code-point ranges) — an
    * independent derivation, not the engine's bytes echoed back. Runs
    * over the DISTINCT word table only, so the interpreted list lambda
    * is off the corpus-scaled path.
    *
    * Assumption (ADVICE r16): `string_split(s, '')` must yield ONE
    * CODE POINT per element — verified true of the pinned DuckDB
    * build (a combining mark splits into its own element;
    * `len(string_split(s,'')) == length(s)` always). If a future
    * DuckDB groups grapheme clusters instead, `ord()` would read only
    * the cluster's first code point and silently desync from the
    * engine's correct UTF-8 bytes — so the guard below fails loudly
    * (the WordPiece error() pattern) the moment the element count
    * stops matching the code-point count. */
  private def byteEncodeSql(c: String): String =
    s"""CASE WHEN len(string_split($c, '')) <> length($c)
       |  THEN error('bytebpe oracle: string_split is not per-code-point')
       |  ELSE '' END ||
       |'|' || array_to_string(flatten(list_transform(
       |  string_split($c, ''), c ->
       |  CASE WHEN ord(c) < 128 THEN [CAST(ord(c) AS VARCHAR)]
       |       WHEN ord(c) < 2048 THEN
       |         [CAST(192 + ord(c) // 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)]
       |       WHEN ord(c) < 65536 THEN
       |         [CAST(224 + ord(c) // 4096 AS VARCHAR),
       |          CAST(128 + (ord(c) // 64) % 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)]
       |       ELSE
       |         [CAST(240 + ord(c) // 262144 AS VARCHAR),
       |          CAST(128 + (ord(c) // 4096) % 64 AS VARCHAR),
       |          CAST(128 + (ord(c) // 64) % 64 AS VARCHAR),
       |          CAST(128 + ord(c) % 64 AS VARCHAR)] END)), '||') || '|'
       |""".stripMargin.trim

  /** Apply replay for a fixed rule list — [[Bpe.applyOracleSqlFor]]'s
    * replace() chain over the `|sym||sym|` encoding; merged spellings
    * carry the `_` join. Symbols are `[0-9_]`-only by construction, so
    * no delimiter guard is needed (documented, not assumed: the
    * encoding step itself only emits decimal byte values). */
  private def applyOracleSqlFor(
      rules: Seq[(Int, String, String, Long)]): String = {
    val passes = rules.sortBy(_._1).zipWithIndex.map {
      case ((_, a, b, _), i) =>
        val src = if (i == 0) "v0" else s"v$i"
        s"v${i + 1} AS (SELECT word, replace(s, '|$a||$b|'," +
          s" '|${merged(a, b)}|') AS s FROM $src)"
    }
    val last = s"v${rules.size}"
    s"""WITH words AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0),
       |vocab AS (SELECT DISTINCT word FROM words),
       |v0 AS (
       |  SELECT word, ${byteEncodeSql("word")} AS s
       |  FROM vocab),
       |${if (passes.isEmpty) "" else passes.mkString(",\n") + ",\n"}vt AS (SELECT word,
       |         CAST((len(s) - len(replace(s, '||', ''))) // 2 + 1 AS BIGINT)
       |           AS n_toks
       |       FROM $last)
       |SELECT w.doc_id,
       |  count(*) AS n_words,
       |  CAST(sum(octet_length(encode(w.word))) AS BIGINT) AS n_bytes,
       |  CAST(sum(vt.n_toks) AS BIGINT) AS n_tokens
       |FROM words w JOIN vt USING (word)
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
  }

  /** Decode replay — the INVERSE rederived independently: after the
    * same replace() chain as apply, the oracle parses the final
    * `|sym||sym|` string back to the byte sequence (`||` → `_`, trim
    * `|`, split on `_`), re-hexes each decimal byte, and reassembles
    * the word via `from_hex` + `decode` (blob → UTF-8). A decode bug
    * on EITHER side (byte order, multibyte reassembly, hex padding)
    * breaks `dec = word` or the character count. */
  private def decodeOracleSqlFor(
      rules: Seq[(Int, String, String, Long)]): String = {
    val passes = rules.sortBy(_._1).zipWithIndex.map {
      case ((_, a, b, _), i) =>
        val src = if (i == 0) "v0" else s"v$i"
        s"v${i + 1} AS (SELECT word, replace(s, '|$a||$b|'," +
          s" '|${merged(a, b)}|') AS s FROM $src)"
    }
    val last = s"v${rules.size}"
    s"""WITH words AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) > 0),
       |vocab AS (SELECT DISTINCT word FROM words),
       |v0 AS (
       |  SELECT word, ${byteEncodeSql("word")} AS s
       |  FROM vocab),
       |${if (passes.isEmpty) "" else passes.mkString(",\n") + ",\n"}vt AS (SELECT word,
       |         CAST((len(s) - len(replace(s, '||', ''))) // 2 + 1 AS BIGINT)
       |           AS n_toks,
       |         decode(from_hex(array_to_string(list_transform(
       |           string_split(replace(trim(s, '|'), '||', '_'), '_'),
       |           b -> lpad(to_hex(CAST(b AS INT)), 2, '0')), '')))
       |           AS dec
       |       FROM $last)
       |SELECT w.doc_id,
       |  count(*) AS n_words,
       |  CAST(sum(vt.n_toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(length(vt.dec)) AS BIGINT) AS n_chars,
       |  CAST(sum(CASE WHEN vt.dec = w.word THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_roundtrip
       |FROM words w JOIN vt USING (word)
       |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
  }

  /** Training replay: the greedy merge loop UNROLLED as nMerges DuckDB
    * rounds ([[Bpe.trainOracleSql]]'s shape) — pair counts over the
    * byte-symbol encoding, (cnt DESC, a, b) argmax with the cnt >= 2
    * floor, one replace() per merge (COALESCE to chr(1) no-ops
    * exhausted rounds). Independent recomputation from the corpus. */
  private def trainOracleSql: String = {
    val rounds = (0 until nMerges).map { r =>
      s"""tt$r AS (SELECT string_split(substr(s, 2, len(s) - 2), '||') AS t,
         |  freq FROM w$r),
         |pp$r AS (
         |  SELECT t, freq, unnest(generate_series(1, len(t) - 1)) AS i
         |  FROM tt$r),
         |cnts$r AS (
         |  SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM pp$r GROUP BY 1, 2),
         |top$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM cnts$r WHERE cnt >= 2
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS MATERIALIZED (
         |  SELECT replace(s,
         |    COALESCE((SELECT '|' || a || '||' || b || '|' FROM top$r), chr(1)),
         |    COALESCE((SELECT '|' || a || '_' || b || '|' FROM top$r), chr(1))) AS s,
         |    freq
         |  FROM w$r)""".stripMargin
    }
    val union = (0 until nMerges).map { r =>
      s"SELECT ${r + 1} AS rank, a AS left_sym, b AS right_sym," +
        s" a || '_' || b AS merged, cnt AS pair_freq FROM top$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT ${byteEncodeSql("word")} AS s, freq
       |  FROM words),
       |${rounds.mkString(",\n")}
       |SELECT * FROM (
       |$union) ORDER BY rank""".stripMargin
  }

  /** Current apply oracle, exposed for [[TokenizerCompare]]'s composed
    * replay (None until rules have trained this process). */
  private[functions] def applyOracleSqlCurrent: Option[String] =
    lastRules.map(applyOracleSqlFor)

  def oracles: Map[String, String] =
    Map("vocab_bytebpe_train" -> trainOracleSql) ++ (lastRules match {
      case None => Map.empty
      case Some(rs) => Map(
        "vocab_bytebpe_apply" -> applyOracleSqlFor(rs),
        "vocab_bytebpe_decode" -> decodeOracleSqlFor(rs))
    })
}
