package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps min id per text and counts copies") {
    val df = Seq((1L, "aa bb"), (2L, "cc dd"), (3L, "aa bb"), (4L, "aa bb"))
      .toDF("doc_id", "text")
    val out = df.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n"))
      .orderBy("keep_id")
      .select("keep_id", "n").as[(Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 3L), (2L, 1L)))
  }

  test("simhash is word-order invariant and shifts with content") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"), // permutation of 1
      (3L, "totally different words here now"))
      .toDF("doc_id", "text")
    val sh = df.select($"doc_id",
      Dedup.simhash64(split(lower($"text"), " ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("minhash signature identical for same word set, k-length") {
    val df = Seq((1L, "x y z"), (2L, "z y x"), (3L, "p q r"))
      .toDF("doc_id", "text")
    val sig = df.select($"doc_id",
      Dedup.minhashSignature(Dedup.wordSet($"text"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
    assert(sig(1L).length === 16)
  }

  test("minhash-LSH detects planted near-duplicates with exact-Jaccard verify") {
    // 40 base docs of distinct vocab + 5 near-dup pairs sharing 9/10 words.
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 10).map(j => s"w${i}_$j").mkString(" "))
    }
    val nearDups = (0 until 5).map { i =>
      val (id, text) = base(i)
      val words = text.split(" ")
      (100L + i, (words.dropRight(1) :+ "changed").mkString(" "))
    }
    (base ++ nearDups).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs/documents.parquet")
    val pairs = Dedup.minhashPairs(spark, "/tmp/graft_test_docs", threshold = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = (0 until 5).map(i => (i.toLong, 100L + i)).toSet
    assert(pairs === expected)
  }

  test("wordKShingles produces positional n-grams and handles short docs") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.wordKShingles($"text", 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) === Seq("a b c", "b c d"))
    assert(sh(2L) === Seq("a b"))
  }

  test("fused word_kgrams matches the HOF shingling exactly, incl. order") {
    // repeats (dedup order matters), short doc, exact-k doc, empty doc,
    // doubled spaces (empty tokens), uppercase (lowered upstream)
    val df = Seq((1L, "a b a b a b c"), (2L, "x"), (3L, "p q r"),
      (4L, ""), (5L, "A  B a b"), (6L, "w w w w w")).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3, 5, 9)) {
      val fused = df.select($"doc_id", Dedup.wordKShingles($"text", k).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      val ref = df.select($"doc_id", TestRefs.hofShingles($"text", k).as("s"))
        .as[(Long, Seq[String])].collect().toMap
      assert(fused === ref, s"k=$k")
    }
  }

  test("word_kgrams NULL text yields NULL (no phantom null-gram row)") {
    // deliberate deviation from the HOF form, which produced [NULL]:
    // a null document contributes NOTHING after explode, instead of a
    // null-gram row that would join/count as real boilerplate
    val df = Seq((1L, Option("a b c")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id", Dedup.wordKShingles($"text", 2).as("s"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(out(1L) === Some(Seq("a b", "b c")))
    assert(out(2L) === None)
    // the HOF reference indeed differed here — pin the contrast
    val hof = df.select($"doc_id", TestRefs.hofShingles($"text", 2).as("s"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(hof(2L) === Some(Seq(null)))
    // explode-level consequence: the null doc disappears entirely
    val grams = df.select($"doc_id",
      explode(Dedup.wordKShingles($"text", 2)).as("g"))
      .as[(Long, String)].collect()
    assert(grams.forall(_._1 == 1L))
  }

  test("simhashTable (codegen path) matches HOF simhash64 exactly") {
    val docs = Tables.t(spark, sfDir, "documents").limit(50)
    val viaHof = docs.select($"doc_id",
      Dedup.simhash64(split(lower($"text"), " ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaTable = Dedup.simhashTable(docs, "text")
      .as[(Long, Long)].collect().toMap
    assert(viaTable === viaHof)
  }

  test("fused SimHash64 expression matches both other simhash paths") {
    val docs = Tables.t(spark, sfDir, "documents").limit(50)
    val viaHof = docs.select($"doc_id",
      Dedup.simhash64(split(lower($"text"), " ")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaFused = Dedup.simhashFused(spark, docs, "text")
      .as[(Long, Long)].collect().toMap
    assert(viaFused === viaHof)
    // interpreted eval agrees with the doGenCode path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val tokens = Seq("the", "quick", "brown", "fox")
    val viaEval = graft.plans.SimHash64(
      Literal.create(tokens, ArrayType(StringType))).eval(null)
    val viaDf = Seq(1L -> tokens.mkString(" ")).toDF("doc_id", "text")
    val expected = Dedup.simhashFused(spark, viaDf, "text")
      .as[(Long, Long)].collect().head._2
    assert(viaEval === expected)
  }

  test("embeddingLshPairs finds planted near-duplicate vectors, ranked first") {
    // 40 well-separated random vectors + 3 planted copies of vector 0
    // with tiny noise: the planted pairs must surface with cos ≈ 1 ahead
    // of everything else, and an over-cap bucket must still yield its
    // within-cap pairs (cap bounds fan-out, never zeroes recall).
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian())
    def noisy(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      base.map(x => (x + r.nextGaussian() * 0.01).toFloat).toSeq
    }
    val others = (10L until 50L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(64)(r.nextGaussian().toFloat).toSeq)
    }
    val planted = Seq(0L, 1L, 2L).map(i => (i, noisy(i.toInt)))
    val df = (planted ++ others).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingLshPairs(df)
      .as[(Long, Long, Double)].collect()
    val dupPairs = pairs.filter(_._3 > 0.99).map(p => (p._1, p._2)).toSet
    assert(dupPairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // ranked ahead of unrelated pairs
    assert(pairs.take(3).forall(_._3 > 0.99))
    // cap keeps within-cap pairs instead of dropping the bucket: the
    // planted 3-member bucket is over-cap at maxBucket=2, and its first
    // two members must still pair up (drop semantics would lose them)
    val capped = Dedup.embeddingLshPairs(df, maxBucket = 2)
      .as[(Long, Long, Double)].collect()
    assert(capped.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.99),
      capped.take(10).mkString(", "))
  }

  test("canonicalResolve collapses deep pointer chains in O(log depth) rounds") {
    // one 100-deep chain (9900..9999 → 9900), a 2-cycle of selves, and a
    // star — all resolve to their roots
    val chain = (9901L to 9999L).map(i => (i, i - 1))
    val star = Seq((5L, 1L), (6L, 1L), (7L, 1L))
    val selfs = Seq((9900L, 9900L), (1L, 1L), (42L, 42L))
    val pointers = (chain ++ star ++ selfs).toDF("id", "parent")
    val resolved = Dedup.canonicalResolve(pointers)
      .as[(Long, Long)].collect().toMap
    assert((9901L to 9999L).forall(resolved(_) === 9900L))
    assert(Seq(5L, 6L, 7L).forall(resolved(_) === 1L))
    assert(resolved(42L) === 42L)
    // total over parents with no row of their own: (2 -> 1) with no row
    // for 1 must resolve 2 -> 1, not drop it
    val dangling = Dedup.canonicalResolve(Seq((2L, 1L)).toDF("id", "parent"))
      .as[(Long, Long)].collect().toMap
    assert(dangling === Map(2L -> 1L))
    // non-convergence fails loudly: a 3-cycle is a permutation whose
    // doubling (sigma^(2^k)) never reaches the identity, so the loop
    // can't stabilize
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id", "parent")
    intercept[IllegalStateException] {
      Dedup.canonicalResolve(cyc, maxIters = 5)
    }
  }

  test("connectedComponents: arbitrary graphs the monotone forest can't " +
    "express (stars, triangles, crossings, deep path) — BOTH paths: the " +
    "distributed star alternation (cap 0) and the driver union-find " +
    "fast path must emit the identical star forest") {
    var distIters = 0
    def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      // force the distributed path (the 100 TB shape stays covered even
      // though every test graph is under the driver-edge cap)
      Attrib.drain()
      val stars = Dedup.connectedComponents(edges.toDF("a", "b"),
        driverEdgeCap = 0L)
      val m = stars.as[(Long, Long)].collect().toMap
      val dist = Attrib.drain().toMap
      assert(dist.get("cc_path") === Some("distributed"),
        "cap 0 must run the iterative path")
      distIters = dist("cc_iters").toInt
      assert(distIters > 0, "cap 0 must run the iterative path")
      // parity: the union-find fast path labels identically
      val fast = Dedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      val local = Attrib.drain().toMap
      assert(local.get("cc_path") === Some("driver") &&
        !local.contains("cc_iters"), "under the cap must run union-find")
      assert(fast === m, "union-find fast path diverged from the " +
        "distributed star alternation")
      m // non-root -> root
    }
    // high-center star: (5,3),(5,4) — 4's one-hop min is itself, the
    // exact case pointer doubling under-merges; CC must give {3,4,5}→3
    assert(cc(Seq((5L, 3L), (5L, 4L))) === Map(5L -> 3L, 4L -> 3L))
    // triangle + disjoint edge + duplicate/reversed edges
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 8L), (8L, 9L))) ===
      Map(2L -> 1L, 3L -> 1L, 9L -> 8L))
    // crossing: two stars merged by one bridge edge
    assert(cc(Seq((10L, 1L), (10L, 11L), (20L, 2L), (20L, 21L), (11L, 21L)))
      === Map(10L -> 1L, 11L -> 1L, 2L -> 1L, 20L -> 1L, 21L -> 1L))
    // deep path: worst case for round count; crosses lineage truncation
    val n = 600L
    val path = (1L until n).map(i => (i - 1, i))
    val got = cc(path)
    assert(got.size === n - 1)
    assert(got.values.forall(_ === 0L))
    assert(distIters <= 15, s"took $distIters rounds")
  }

  test("dedup_substring_span: planted shared passages — recall on the " +
    "30-word passage and the exact-duplicate pair, silence below L, " +
    "maximality of the reported span") {
    def ws(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val passage = ws("p", 30) // shared 30-word passage (≥ L = 16)
    val short = ws("q", 15)   // shared 15-word run (< L) — must NOT report
    val dup = ws("f", 40).mkString(" ") // exact duplicate pair
    // docs 8/9 share TWO disjoint 20-word passages — doc 9 carries two
    // separate drop intervals, pinning the strip kernel's
    // exists-over-interval-ARRAY path (r18 map-only apply rewrite)
    val pA = ws("g", 20)
    val pB = ws("h", 20)
    Seq(
      (1L, (ws("a", 10) ++ passage ++ ws("x", 50)).mkString(" ")),
      (2L, (ws("b", 20) ++ passage ++ ws("y", 20)).mkString(" ")),
      (3L, ws("c", 50).mkString(" ")), // no overlap with anything
      (4L, (ws("d", 5) ++ short ++ ws("u", 20)).mkString(" ")),
      (5L, (ws("e", 10) ++ short ++ ws("v", 10)).mkString(" ")),
      (6L, dup), (7L, dup),
      (8L, (pA ++ ws("m", 10) ++ pB).mkString(" ")),
      (9L, (ws("n", 5) ++ pA ++ ws("o", 7) ++ pB ++ ws("k", 5))
        .mkString(" ")))
      .toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite")
      .parquet("/tmp/graft_test_span/documents.parquet")
    val out = Dedup.queries("dedup_substring_span")(spark, "/tmp/graft_test_span")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the 30-word passage reports ONCE, maximal, at its exact offsets
    // (interior 8-grams match positions 10..32 vs 20..42 on one diagonal);
    // the duplicate pair reports its full 40 words; the 15-word run and
    // doc 3 are silent; the 8/9 pair reports BOTH passages as separate
    // maximal spans (different diagonals)
    assert(out === Seq((1L, 2L, 10L, 20L, 30L), (6L, 7L, 0L, 0L, 40L),
      (8L, 9L, 0L, 5L, 20L), (8L, 9L, 30L, 32L, 20L)))

    // apply step: the LATER doc of each pair loses its copy — doc 2
    // drops words 20..49 (the passage), doc 7 (exact duplicate) empties,
    // doc 9 drops BOTH intervals (5..24 and 32..51) and keeps the three
    // interleaved runs; every other doc (including the below-threshold
    // 15-word run pair) passes through verbatim
    val strip = Dedup.queries("dedup_substring_strip")(
        spark, "/tmp/graft_test_span")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(strip(2L) === ((70L, 30L,
      (ws("b", 20) ++ ws("y", 20)).mkString(" "))))
    assert(strip(7L) === ((40L, 40L, "")))
    assert(strip(9L) === ((57L, 40L,
      (ws("n", 5) ++ ws("o", 7) ++ ws("k", 5)).mkString(" "))))
    assert(strip(1L)._2 === 0L && strip(6L)._2 === 0L
      && strip(8L)._2 === 0L)
    assert(strip(4L)._2 === 0L && strip(5L)._2 === 0L) // below L: kept
    assert(strip(3L) === ((50L, 0L, ws("c", 50).mkString(" "))))
  }

  test("canonicalResolve: depth-4096 chain crosses lineage truncation, " +
    "stays log-round") {
    // Deep enough to force multiple LogicalRDD truncations (every 5
    // rounds for the doubling loop's fanout 2, set by Iterate.fixpoint):
    // without truncation the logical plan doubles per round and the
    // driver drowns in a 2^12-node tree (measured minutes at depth
    // 1024); with it this finishes in seconds. Also pins the round
    // count: fixpoint in log2(4096)+1 = 13 doubling rounds.
    val pointers = (1L to 4096L).map(i => (i, i - 1)).toDF("id", "parent")
    // force the distributed doubling path — the 100 TB shape must stay
    // covered even though 4096 rows are under the driver-row cap
    Attrib.drain()
    val resolved = Dedup.canonicalResolve(pointers, driverRowCap = 0L)
      .as[(Long, Long)].collect()
    assert(resolved.length === 4096)
    assert(resolved.forall(_._2 === 0L))
    val dist = Attrib.drain().toMap
    assert(dist.get("resolve_path") === Some("distributed"))
    assert(dist.get("resolve_iters") === Some("13"),
      s"expected 13 rounds, got ${dist.get("resolve_iters")}")
    // parity: the driver-side chase resolves the same chain identically
    val fast = Dedup.canonicalResolve(pointers).as[(Long, Long)].collect()
    val local = Attrib.drain().toMap
    assert(local.get("resolve_path") === Some("driver") &&
      !local.contains("resolve_iters"), "under the cap must run the chase")
    assert(fast.sorted.toSeq === resolved.sorted.toSeq)
  }

  test("keeperPointers block stitch equals the single-block (global) linkage") {
    // Word-order permutations: distinct texts (different md5 → separate
    // keepers) with identical word SETS (jaccard 1.0 → chain links).
    // Ids are laid out so chains cross block boundaries at blockSize=4
    // (2..5 spans blocks 0|1) and span ENTIRELY EMPTY blocks (5 → 17
    // jumps blocks 2,3), plus an exact duplicate pointing at a keeper.
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (2L, "red green blue"),
      (3L, "green blue red"),
      (4L, "blue red green"),
      (5L, "red blue green"),
      (17L, "green red blue"),
      (18L, "alpha beta gamma"), // exact dup of 0 → keeper 0
      (19L, "something else entirely"))
      .toDF("doc_id", "text")
    val stitched = Dedup.keeperPointers(docs, blockSize = 4)
      .as[(Long, Long)].collect().toSet
    // blockSize larger than any id ⇒ one block ⇒ the plain global window
    val global = Dedup.keeperPointers(docs, blockSize = 1L << 40)
      .as[(Long, Long)].collect().toSet
    assert(stitched === global)
    // and the chain itself is intact: each permuted doc points at its
    // global predecessor keeper, across the block edge and the id gap
    val m = stitched.toMap
    assert(m(3L) === 2L && m(4L) === 3L && m(5L) === 4L && m(17L) === 5L)
    assert(m(18L) === 0L && m(19L) === 19L)
    // end-to-end: resolve collapses the whole chain to one canonical id
    val resolved = Dedup.canonicalResolve(Dedup.keeperPointers(docs, 4))
      .as[(Long, Long)].collect().toMap
    assert(Seq(3L, 4L, 5L, 17L).forall(resolved(_) === 2L))
  }

  test("fused SimHash64 matches the HOF path on arrays with null tokens") {
    // xxhash64(null) = the seed (42), so null tokens VOTE in the HOF
    // path; the fused expression must vote identically.
    graft.plans.SimHash64.register(spark)
    val df = Seq(1L, 2L).toDF("id").select($"id",
      when($"id" === 1L, typedlit(Seq[Option[String]](Some("a"), None, Some("b"))))
        .otherwise(typedlit(Seq[Option[String]](Some("a"), Some("b")))).as("toks"))
    val hof = df.select($"id", Dedup.simhash64($"toks").as("sh"))
      .as[(Long, Long)].collect().toMap
    val fused = df.select($"id", call_function("simhash64", $"toks").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(fused === hof)
  }

  test("minhashSignatures (codegen path) matches HOF minhashSignature exactly") {
    val docs = Tables.t(spark, sfDir, "documents").limit(50)
    val viaHof = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.wordSet($"text"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaTable = Dedup.minhashSignatures(docs, "text", 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaTable === viaHof)
  }

  test("fused MinHashSig expression matches both other signature paths") {
    val docs = Tables.t(spark, sfDir, "documents").limit(50)
    val viaHof = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.wordSet($"text"), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaFused = Dedup.minhashSignaturesFused(spark, docs, "text", 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaFused === viaHof)
  }

  test("fused MinHashSig: codegen and interpreted eval agree, nulls pass through") {
    graft.plans.MinHashSig.register(spark)
    val df = Seq(Some(Seq("a", "b")), Some(Seq.empty[String]), None).toDF("arr")
    val out = df.select(expr("minhash_sig(arr, 4)")).collect()
    // non-empty: real mins; empty: MaxValue sentinels; null: null
    assert(out(0).getSeq[Long](0).forall(_ != Long.MaxValue))
    assert(out(1).getSeq[Long](0).forall(_ == Long.MaxValue))
    assert(out(2).isNullAt(0))
    // interpreted eval path (no codegen) must agree with the collected row
    val e = graft.plans.MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("a", "b"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)), 4)
    val interp = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq === out(0).getSeq[Long](0))
  }

  test("registered dedup queries run and are sane on testdata") {
    val exact = Dedup.queries("dedup_exact")(spark, sfDir)
    assert(exact.count() === 500) // corpus has no exact dups
    val jac = Dedup.queries("dedup_jaccard_pairs")(spark, sfDir)
      .agg(min("jaccard"), max("jaccard")).as[(Double, Double)].head()
    assert(jac._1 >= 0.0 && jac._2 <= 1.0)
  }

  test("incremental dedup: batch survivors exclude index dups and " +
    "in-batch later copies") {
    // Index side (even ids): docs A, B. Batch side (odd ids):
    //   id 1 duplicates A (index dup → dropped),
    //   ids 3,5 duplicate each other (in-batch dup → min id 3 survives),
    //   id 7 is fresh (survives).
    Seq((0L, "doc A"), (2L, "doc B"),
      (1L, "doc A"), (3L, "doc C"), (5L, "doc C"), (7L, "doc D"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_incr/documents.parquet")
    val out = Dedup.queries("dedup_incremental")(spark, "/tmp/graft_test_incr")
      .select("keep_id").as[Long].collect().toSeq
    assert(out === Seq(3L, 7L))
  }

  test("incremental near-dup screen: edited re-crawl dropped, fresh doc kept") {
    // Index (even ids): 20-word docs of distinct vocab. Batch (odd ids):
    //   id 101 re-crawls index doc 0 with one word changed
    //     (Jaccard 19/21 ≈ 0.905 ≥ 0.8 → screened out),
    //   id 103 shares only 5/20 words with doc 4 (0.2 < 0.8 → kept),
    //   id 105 is fresh vocabulary (kept).
    val mk = (i: Int) => (0 until 20).map(j => s"v${i}_$j").mkString(" ")
    val index = (0 until 6).map(i => ((2 * i).toLong, mk(2 * i)))
    val recrawl = (101L, mk(0).split(" ").dropRight(1).:+("edited").mkString(" "))
    val partial = (103L, (mk(4).split(" ").take(5) ++
      (0 until 5).map(j => s"other_$j")).mkString(" "))
    val fresh = (105L, (0 until 10).map(j => s"fresh_$j").mkString(" "))
    (index :+ recrawl :+ partial :+ fresh).toDF("doc_id", "text")
      .write.mode("overwrite")
      .parquet("/tmp/graft_test_incr_near/documents.parquet")
    val kept = Dedup.queries("dedup_incremental_near")(
      spark, "/tmp/graft_test_incr_near")
      .as[Long].collect().toSeq
    assert(kept === Seq(103L, 105L))
  }
}
