package graft

import graft.functions.TextOps
import graft.plans.PolyHash64
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("language-ID picks the profile with most stopword hits") {
    val df = Seq(
      (1L, "the cat sat on the mat and that is fine", "en"),
      (2L, "der hund und die katze ist nicht da", "de"),
      (3L, "el perro y la casa de los gatos", "es"),
      (4L, "le chien et les chats dans la maison", "fr"))
      .toDF("id", "text", "expected")
    val out = df.select($"id", $"expected",
      TextOps.langIdCol(split(lower($"text"), " ")).as("got"))
      .as[(Long, String, String)].collect()
    out.foreach { case (id, exp, got) =>
      assert(got === exp, s"doc $id predicted $got, expected $exp")
    }
  }

  test("poly_hash64 matches reference implementation and handles null/empty") {
    val df = Seq(Some("hello world"), Some(""), None).toDF("text")
    val out = df.select(expr("poly_hash64(text)")).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    assert(out(0) === Some(PolyHash64.hashString("hello world")))
    assert(out(1) === Some(PolyHash64.Seed)) // empty string → seed
    assert(out(2) === None)                  // null → null
  }

  test("poly_hash64 codegen path agrees with interpreted eval") {
    // Force both paths over real data: codegen (projection) vs eval via
    // the reference impl on collected strings.
    val docs = Tables.t(spark, sfDir, "documents").limit(100)
    val viaExpr = docs.select($"doc_id", expr("poly_hash64(text)").as("h"))
      .as[(Long, Long)].collect().toMap
    val viaRef = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> PolyHash64.hashString(t) }.toMap
    assert(viaExpr === viaRef)
  }

  test("quality score is bounded and favors real text over garbage") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs in to the woods with that pack"),
      (2L, "!!!! ???? ;;;; ....."),
      (3L, "x"))
      .toDF("doc_id", "text")
    val scores = df.select($"doc_id", TextOps.qualityCol($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    scores.values.foreach(q => assert(q >= 0.0 && q <= 1.0))
    assert(scores(1L) > scores(2L))
    assert(scores(1L) > scores(3L))
  }

  test("token chunking covers every token with the configured overlap") {
    // chunk=16/stride=12 (the registered query's config): n<=16 → one
    // chunk; otherwise chunks start at 0,12,24,… and the last one starts
    // at <= n-1 so no token beyond position 16 is orphaned.
    val docs = Seq(
      (1L, (1 to 5).map(i => s"t$i").mkString(" ")),     // short: 1 chunk
      (2L, (1 to 16).map(i => s"t$i").mkString(" ")),    // exact: 1 chunk
      (3L, (1 to 17).map(i => s"t$i").mkString(" ")),    // 2 chunks
      (4L, (1 to 40).map(i => s"t$i").mkString(" ")))    // 3 chunks
      .toDF("doc_id", "text")
    val out = functions.TextOps.queries("text_chunk_tokens")(spark, sfDir)
    // same chunking plan over the fixture
    val toks = split(col("text"), " ")
    val nChunks = when(size(toks) <= 16, lit(1))
      .otherwise(ceil((size(toks) - 16).cast("double") / 12).cast("int") + 1)
    val byDoc = docs.select(col("doc_id"), toks.as("toks"), nChunks.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => slice(col("toks"), i * 12 + 1, lit(16)))))
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .as[(Long, Long)].collect().toMap
    assert(byDoc === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    assert(out.columns.toSeq ===
      Seq("doc_id", "chunk_idx", "n_toks", "first_tok"))
  }

  test("registered text queries run on the documents table") {
    val stats = TextOps.queries("text_stats")(spark, sfDir)
    assert(stats.count() === 500)
    val fp = TextOps.queries("text_fingerprint")(spark, sfDir)
    assert(fp.select(countDistinct($"fingerprint")).as[Long].head() === 500)
  }

  test("gram_stats matches the explode+groupBy relational formulation") {
    // fixture exercises: repeats ("a b" ×3), all-distinct, single-word
    // (dropped), empty string (one word after split → dropped), and a
    // doc that is one repeated word ("x x x x" → max 2-gram frac 1.0)
    val docs = Seq(
      (1L, "a b a b a b c"), (2L, "p q r s"), (3L, "solo"),
      (4L, ""), (5L, "x x x x"), (6L, "A a a A")).toDF("doc_id", "text")
    val words = split(lower(col("text")), " ")
    val fused = docs
      .select(col("doc_id"), call_function("gram_stats", words, lit(2)).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), col("g.total"), col("g.n_distinct"), col("g.max_n"))
    val g2 = when(size(words) >= 2,
      transform(sequence(lit(0), size(words) - 2),
        i => concat_ws(" ", slice(words, i + 1, lit(2)))))
      .otherwise(typedlit(Seq.empty[String]))
    val relational = docs
      .select(col("doc_id"), explode(g2).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("max_n"))
    val f = fused.as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val r = relational.as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(f === r)
    assert(f.map(_._1).toSeq === Seq(1L, 2L, 5L, 6L)) // 3 and 4 dropped
    assert(f.find(_._1 == 5L).get === ((5L, 3L, 1L, 3L))) // "x x" ×3
  }

  test("kneser-ney bigram: hand-computed discount, continuation " +
    "diversity, and backoff on a planted corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("kn").toString
    Seq((1L, "a b a b"), (2L, "a c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_kneser_ney_bigram")(spark, tmp)
      .collect()
    // bigrams: (a,b)×2, (b,a)×1, (a,c)×1 — only (a,b) clears c≥2.
    // c_x(a)=3, N1+(a·)=2, N1+(·b)=1, types=3:
    // p = (2−.75)/3 + .75·2/3·(1/3) = 0.416667 + 0.166667
    assert(got.length == 1)
    assert(got(0).getString(0) == "a" && got(0).getString(1) == "b")
    assert(got(0).getLong(2) == 2L)
    assert(got(0).getDouble(3) === 0.583333)
  }

  test("feature hash: buckets bounded, signs cancel, vocabulary-free " +
    "determinism") {
    val rows = functions.TextOps.queries("text_feature_hash")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b < 64
    })
    assert(rows.forall(_.getAs[Long]("weight") != 0L))
    // the same token always lands in the same signed bucket, so a doc
    // of one repeated token has exactly one feature with |weight| = n
    val tmp = java.nio.file.Files.createTempDirectory("fh").toString
    Seq((1L, "alpha alpha alpha alpha", "en", "t", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val one = functions.TextOps.queries("text_feature_hash")(spark, tmp)
      .collect()
    assert(one.length == 1)
    assert(math.abs(one(0).getAs[Long]("weight")) == 4L)
  }

  test("chunk overlap: planted word counts pin window starts, tail " +
    "truncation, and the single-chunk short-doc case") {
    val tmp = java.nio.file.Files.createTempDirectory("ck").toString
    // 3 docs: 10 words (1 chunk), exactly 64 (1 chunk), 65 (2 chunks:
    // the second starts at 48 and truncates to 17 words)
    val words = (1 to 65).map(i => s"w$i")
    Seq((1L, words.take(10).mkString(" ")),
        (2L, words.take(64).mkString(" ")),
        (3L, words.mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_chunk_overlap")(spark, tmp)
      .select("doc_id", "chunk_idx", "start_word", "n_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, 0L, 10L),
      (2L, 0L, 0L, 64L),
      (3L, 0L, 0L, 64L), (3L, 1L, 48L, 17L)))
    // overlap contract: chunk 1 of doc 3 starts 16 words inside chunk 0
    val c3 = TextOps.queries("text_chunk_overlap")(spark, tmp)
      .filter($"doc_id" === 3L).select("chunk").as[String].collect()
    assert(c3(0).split(" ").drop(48).toSeq === c3(1).split(" ").take(16).toSeq)
  }

  test("curriculum shards: shortest-first rank deals round-robin and " +
    "every shard sees the same difficulty ramp") {
    val tmp = java.nio.file.Files.createTempDirectory("cu").toString
    // 20 docs with distinct lengths; rank must equal length order
    (1L to 20L).map(i => (i, "x", 21L - i)) // doc 20 is shortest
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("order_curriculum_shards")(spark, tmp)
      .select("doc_id", "rank", "shard", "pos_in_shard")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // rank 1 = smallest n_chars = doc 20
    assert(got.head === ((20L, 1L, 0L, 0L)))
    // round-robin: shard = (rank-1) % 8, pos = (rank-1) / 8
    assert(got.forall { case (_, r, s, p) =>
      s == (r - 1) % 8 && p == (r - 1) / 8 })
    // ranks are a contiguous permutation
    assert(got.map(_._2).sorted == (1L to 20L).toSeq)
  }

  test("PII scrub: planted email/phone/IP counts and redaction") {
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    Seq((1L, "mail a@b.com or c.d@e.org call 555-123-4567 host 10.0.0.1"),
        (2L, "dotted 555.123.4567 stays a phone"),
        (3L, "clean text with no identifiers"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_pii_scrub")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(got(0) === ((1L, 2L, 1L, 1L,
      "mail <EMAIL> or <EMAIL> call <PHONE> host <IP>")))
    // a dotted phone has 2 dots, the IPv4 shape needs 3 — no collision
    assert(got(1) === ((2L, 0L, 1L, 0L, "dotted <PHONE> stays a phone")))
    assert(got(2) === ((3L, 0L, 0L, 0L, "clean text with no identifiers")))
  }

  test("char entropy: hand-computed H on 'aab'; single-char doc is 0 " +
    "and flags low_entropy; empty doc is excluded (engine-divergence " +
    "guard: Spark split('','')=[''] vs DuckDB [])") {
    val tmp = java.nio.file.Files.createTempDirectory("ent").toString
    Seq((1L, "aab"), (2L, "zzzz"), (3L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_char_entropy")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // H(aab) = ln 3 - round6(2 ln 2)/3 = 1.098612 - 1.386294/3
    assert(got(0)._1 == 1L && got(0)._2 == 3L && got(0)._3 == 2L)
    assert(math.abs(got(0)._4 - 0.636514) < 1e-9)
    assert(got(1) === ((2L, 4L, 1L, 0.0, true)))
    // the planted empty doc must be ABSENT, not present-with-garbage:
    // entropy of '' is undefined and the two engines disagree on the
    // char split of '', so the explicit length(text) > 0 gate (pinned
    // identically in query and oracle) is the contract
    assert(got.length === 2 && !got.exists(_._1 == 3L))
  }

  test("corpus prep v3: scrub -> entropy gate -> dedup -> chunk -> " +
    "curriculum shards on a planted corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("v3").toString
    val natural = (1 to 70).map(i => s"word$i").mkString(" ")
    Seq(
      (1L, natural),                  // survives; 70 words -> 2 chunks
      (2L, natural),                  // exact dup of 1 -> dropped
      (3L, "zz zz zz zz zz zz"),      // low char entropy -> gated out
      (4L, "mail a@b.com " + natural) // scrub changes text, survives
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("pipeline_corpus_prep_v3")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // docs 1 and 4 survive, each chunking to (64, 22)/(64, 24) tokens
    assert(got.map(_._1).toSet === Set(1L, 4L))
    assert(got.length === 4)
    // curriculum: shortest chunks first, rank contiguous, shard = (rank-1)%8
    assert(got.map(_._4).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(got.forall { case (_, _, _, r, s) => s == (r - 1) % 8 })
    val byRank = got.sortBy(_._4).map(_._3)
    assert(byRank.toSeq === byRank.sorted.toSeq) // n_tokens ascending
  }
  test("gopher repetition: hand-computed char fractions — alternating " +
    "bigram saturates top2, repeated 5-gram saturates dup5, unique doc " +
    "keeps, empty doc excluded, single-word doc has zero signals") {
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    Seq(
      // ab/ba alternation: top 2-gram "a b" occurs 3x, char weight 2,
      // dchars 6 -> top2 = 1.0; every word repeats -> dup_word = 1.0
      (1L, "a b a b a b"),
      // 12 distinct 2-char words: every bigram unique (c=1, gl=4),
      // dchars 24 -> top2 = 4/24 = 0.166667 <= 0.2 -> keep
      (2L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
      // "p q r s t" twice: the 5-gram repeats (2 x 5 chars / 10) -> dup5
      // caps at 1.0; top bigram c=2 gl=2 / 10 = 0.4
      (3L, "p q r s t p q r s t"),
      (4L, ""),      // excluded by the dchars > 0 gate
      (5L, "solo"),  // no 2-/5-grams: all signals 0, keep
      // ADVICE r12: spaces-only doc has dchars=0 — must be excluded by
      // the gate, not emit engine-divergent /0 fractions (Spark NULL →
      // 0.0 vs DuckDB NaN)
      (6L, "   ")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.queries("text_gopher_repetition")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      (1L, 1.0, 0.0, 1.0, false),
      (2L, 0.166667, 0.0, 0.0, true),
      (3L, 0.4, 1.0, 1.0, false),
      (5L, 0.0, 0.0, 0.0, true)))
  }

  test("batch_padding_waste: exact integer accounting vs a local " +
    "reference; sorted batching never pads more than arrival order") {
    val rows = SparkEntry.queries("batch_padding_waste")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(rows.keySet === Set("arrival", "sorted"))
    // local brute-force reference over the same whitespace tokens
    val toks = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def ref(ordered: Seq[Long]): (Long, Long, Long) = {
      val batches = ordered.grouped(32).toSeq
      val real = ordered.sum
      val padded = batches.map(b => b.length * b.max).sum
      (batches.length.toLong, real, padded)
    }
    val (na, ra, pa) = ref(toks.sortBy(_._1).map(_._2).toSeq)
    val (ns, rs, ps) = ref(toks.sortBy(t => (t._2, t._1)).map(_._2).toSeq)
    assert(rows("arrival") === ((na, ra, pa, pa - ra,
      math.round((pa - ra).toDouble / pa * 1e6) / 1e6)))
    assert(rows("sorted") === ((ns, rs, ps, ps - rs,
      math.round((ps - rs).toDouble / ps * 1e6) / 1e6)))
    // consecutive-sorted grouping minimizes the sum of batch maxima
    assert(rows("sorted")._4 <= rows("arrival")._4)
    assert(rows("arrival")._2 === rows("sorted")._2, "same real tokens")
  }

  test("pack_nextfit: overflow closes the pack, an oversized doc rides " +
    "alone, shard and lang boundaries reset the chain, null text drops; " +
    "invariant across shuffle parallelism") {
    val tmp = java.nio.file.Files.createTempDirectory("nextfit").toString
    def txt(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // budget 512; en/shard0 fold: 300 | 300 | 500 | 600(alone) | 10
    Seq(
      (1L, "en", txt(300)), (2L, "en", txt(300)), (3L, "en", txt(500)),
      (4L, "en", txt(600)), (5L, "en", txt(10)),
      (256L, "en", txt(100)),            // shard 1 → chain resets
      (6L, "fr", txt(400)), (7L, "fr", txt(200)), // independent lang
      (8L, "en", null.asInstanceOf[String]))      // dropped
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def run(): Seq[(Long, Long, Long)] =
      TextOps.queries("pack_nextfit")(spark, tmp)
        .select("doc_id", "pack_seq", "pack_fill").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Seq(
      (1L, 1L, 300L), (2L, 2L, 300L), (3L, 3L, 500L),
      (4L, 4L, 600L), (5L, 5L, 10L),
      (6L, 1L, 400L), (7L, 2L, 200L), // fr: 400+200 = 600 > 512 → new pack
      (256L, 1L, 100L))
    assert(run() === want)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (p <- Seq("1", "7")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(run() === want, s"parallelism $p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
