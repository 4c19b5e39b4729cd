package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import functions.ByteBpe

/** Byte-level BPE (VERDICT r15 item 5): UTF-8 byte seeding pinned on
  * multibyte inputs (JVM twin AND the codegen expression path), the
  * trainer against a hand-computed corpus, the driver fast path against
  * the distributed twin, the extended 3-field bpe_merge rule form, and
  * the registered queries' internal consistency (including the no-UNK
  * property byte level exists for).
  */
class ByteBpeSpec extends SparkSpec {
  import spark.implicits._

  test("byteSymsLocal: decimal UTF-8 byte spelling, 1-4 bytes per " +
    "code point") {
    assert(ByteBpe.byteSymsLocal("ab").toSeq === Seq("97", "98"))
    assert(ByteBpe.byteSymsLocal("é").toSeq === Seq("195", "169"))
    assert(ByteBpe.byteSymsLocal("€").toSeq === Seq("226", "130", "172"))
    val emoji = new String(Character.toChars(0x1F600))
    assert(ByteBpe.byteSymsLocal(emoji).toSeq ===
      Seq("240", "159", "152", "128"))
    assert(ByteBpe.byteSymsLocal("café").toSeq ===
      Seq("99", "97", "102", "195", "169"))
  }

  test("byteSyms expression equals the JVM twin on multibyte words " +
    "(the encode/substr/hex/conv codegen path)") {
    val emoji = new String(Character.toChars(0x1F600))
    val words = Seq("a", "the", "café", "€uro", s"${emoji}grin", "déjà")
    val got = words.toDF("word")
      .select(col("word"), ByteBpe.byteSyms(col("word")).as("syms"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { w =>
      assert(got(w) === ByteBpe.byteSymsLocal(w).toSeq, s"word=$w")
    }
  }

  test("bpe_merge 3-field rule uses the explicit merged spelling; " +
    "2-field form keeps plain concatenation") {
    val df = Seq(Tuple1(Seq("97", "98", "97", "98", "99")))
      .toDF("syms")
    val merged3 = df.select(call_function("bpe_merge", col("syms"),
      array(lit("97 98 97_98"))).as("m")).collect().head.getSeq[String](0)
    assert(merged3 === Seq("97_98", "97_98", "99"))
    // chained: second rule consumes the first's merged spelling
    val chained = df.select(call_function("bpe_merge", col("syms"),
      array(lit("97 98 97_98"), lit("97_98 97_98 97_98_97_98"))).as("m"))
      .collect().head.getSeq[String](0)
    assert(chained === Seq("97_98_97_98", "99"))
    // 2-field regression (the char-BPE contract unchanged)
    val df2 = Seq(Tuple1(Seq("a", "b", "c"))).toDF("syms")
    val merged2 = df2.select(call_function("bpe_merge", col("syms"),
      array(lit("a b"))).as("m")).collect().head.getSeq[String](0)
    assert(merged2 === Seq("ab", "c"))
  }

  test("trainLocal: most-frequent-pair argmax with bytewise tie-break " +
    "on a hand-computed corpus; merged symbols join with _") {
    // "aa" x3, "ab" x2 → syms [97,97] x3, [97,98] x2
    // pairs: (97,97)=3, (97,98)=2 → rank1 (97,97) cnt 3 → 97_97
    // round 2: [97_97] x3, [97,98] x2 → (97,98)=2 → rank2 97_98
    // round 3: nothing repeats adjacent → stop
    val r = ByteBpe.trainLocal(Seq(("aa", 3L), ("ab", 2L)))
    assert(r === Seq((1, "97", "97", 3L), (2, "97", "98", 2L)))
    // multibyte: "éé" x2 → [195,169,195,169] x2 — pairs (195,169)=4,
    // (169,195)=2 → rank1 (195,169) cnt 4; then [195_169,195_169] x2
    // → (195_169,195_169)=2 → rank2; then single symbol, stop
    val m = ByteBpe.trainLocal(Seq(("éé", 2L)))
    assert(m === Seq((1, "195", "169", 4L),
      (2, "195_169", "195_169", 2L)))
  }

  test("tie-break is bytewise string order (digit strings, not " +
    "numeric): '100...' sorts before '97'") {
    // two disjoint repeated pairs with EQUAL counts; left symbols
    // "100" (from byte 0x64 'd') vs "97" ('a') — lexicographic string
    // order picks the '100' pair first even though 97 < 100 numerically
    val r = ByteBpe.trainLocal(Seq(("dd", 2L), ("aa", 2L)))
    assert(r.head._2 === "100" && r.head._3 === "100")
  }

  test("driver fast path and distributed trainer are rule-for-rule " +
    "identical on a planted multibyte corpus") {
    val wf = Seq(("the", 5L), ("then", 3L), ("café", 4L), ("cafés", 2L),
      ("déjà", 3L), ("x", 9L), ("éé", 2L))
    val words = wf.toDF("word", "freq")
    val dist = ByteBpe.trainDistributed(words)
    val local = ByteBpe.trainLocal(wf)
    assert(dist.nonEmpty)
    assert(dist === local)
  }

  test("registered queries on sf0.001: apply accounting consistent, " +
    "no-UNK property (every word encodable), merges compress") {
    val rules = ByteBpe.trainRules(spark, sfDir)
    assert(rules.nonEmpty && rules.size <= ByteBpe.nMerges)
    assert(rules.map(_._1) === (1 to rules.size))
    val ap = SparkEntry.queries("vocab_bytebpe_apply")(spark, sfDir)
      .collect()
    assert(ap.nonEmpty)
    ap.foreach { r =>
      val (nw, nb, nt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every word tokenizes (>= 1 token per word, no UNK path exists)
      assert(nt >= nw, s"tokens >= words: $r")
      assert(nt <= nb, s"tokens <= bytes: $r")
    }
    // the learned merges actually fire corpus-wide
    val tot = ap.map(_.getLong(3)).sum.toDouble / ap.map(_.getLong(2)).sum
    assert(tot < 1.0, s"no compression: $tot")
    // train query carries the explicit merged spelling
    val tr = SparkEntry.queries("vocab_bytebpe_train")(spark, sfDir)
      .collect()
    assert(tr.length === rules.size)
    tr.foreach { r =>
      assert(r.getString(3) === r.getString(1) + "_" + r.getString(2))
    }
  }

  test("decode(encode(s)) == s for every string: multibyte, emoji, " +
    "ZWJ sequences, combining marks — with and without merges firing") {
    val emoji = new String(Character.toChars(0x1F600))
    val zwj = "👩‍💻" // woman technologist
    val words = Seq("a", "the", "café", "€uro", s"${emoji}grin", zwj,
      "déjà", "éclair" /* combining acute */, "漢字", "ß", "ｱｲｳ")
    // rules that merge ACROSS a multibyte boundary (the '€' lead byte
    // with the next) and inside one ('é' = 195 169) — decode must
    // reassemble regardless of how merges regrouped the bytes
    val rules = array(lit("195 169 195_169"), lit("226 130 226_130"),
      lit("226_130 172 226_130_172"))
    val got = words.toDF("word")
      .select(col("word"), functions.ByteBpe.decodeToks(
        org.apache.spark.sql.functions.call_function("bpe_merge",
          functions.ByteBpe.byteSyms(col("word")), rules)).as("dec"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    words.foreach { w => assert(got(w) === w, s"word=$w") }
  }

  test("vocab_bytebpe_decode on sf0.001: every word round-trips, " +
    "token accounting matches apply") {
    val dec = SparkEntry.queries("vocab_bytebpe_decode")(spark, sfDir)
      .collect()
    assert(dec.nonEmpty)
    dec.foreach { r =>
      assert(r.getLong(4) === r.getLong(1),
        s"n_roundtrip == n_words: $r") // byte level: no lossy word
    }
    val ap = SparkEntry.queries("vocab_bytebpe_apply")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    dec.foreach { r =>
      assert(r.getLong(2) === ap(r.getLong(0)),
        s"n_tokens consistent with apply: $r")
    }
  }

  test("compare eval carries the bytebpe row, internally consistent " +
    "with vocab_bytebpe_apply") {
    val cmp = SparkEntry.queries("vocab_compare_tokenizers")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(cmp.keySet === Set("bpe", "bytebpe", "unigram", "wordpiece"))
    val ap = SparkEntry.queries("vocab_bytebpe_apply")(spark, sfDir)
      .agg(sum("n_words"), sum("n_tokens"), sum("n_bytes"))
      .collect().head
    assert(cmp("bytebpe") ===
      ((ap.getLong(0), ap.getLong(1), ap.getLong(2))))
  }
}
