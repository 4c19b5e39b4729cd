package graft

import org.apache.spark.sql.functions._

/** BPE trainer/apply correctness (no SQL oracle possible — iterative
  * greedy merging): independent-reference parity for the learned rules,
  * exact greedy-overlap edge semantics, codegen/interpreted parity for
  * the kernel, and apply-side round-trip invariants.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference BPE trainer (classic dictionary
    * implementation, Sennrich et al. 2016 pseudo-code shape) — driver
    * maps only, shares no code with the engine path. */
  private def referenceTrain(wordFreqs: Map[String, Long], nMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      wordFreqs.map { case (w, f) => (w.split("").toVector, f) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) += f
          case _ => ()
        }
      }
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val ((a, b), cnt) = eligible.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((rank, a, b, cnt))
        vocab = vocab.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.toVector, f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        rank += 1
      }
    }
    out.toSeq
  }

  test("trained merge rules match the independent reference implementation") {
    Derived.clear("bpe_rules")
    val engine = functions.Bpe.queries("vocab_bpe_train")(spark, sfDir)
      .as[(Int, String, String, Long)].collect().toSeq
    val wordFreqs = Tables.t(spark, sfDir, "documents")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy("w").count()
      .as[(String, Long)].collect().toMap
    val ref = referenceTrain(wordFreqs, functions.Bpe.nMerges)
    assert(engine === ref)
    assert(engine.nonEmpty, "corpus should yield at least one merge")
  }

  test("bpe_merge kernel: greedy non-overlap, rule order, null passthrough") {
    def run(syms: Seq[String], rules: Seq[String]): Seq[String] =
      spark.range(1)
        .select(call_function("bpe_merge",
          typedlit(syms), typedlit(rules)).as("r"))
        .as[Seq[String]].head()
    // greedy left-to-right, non-overlapping: a a a -> [aa, a]
    assert(run(Seq("a", "a", "a"), Seq("a a")) === Seq("aa", "a"))
    // four in a row merge twice
    assert(run(Seq("a", "a", "a", "a"), Seq("a a")) === Seq("aa", "aa"))
    // rules apply IN ORDER, later rules see earlier results
    assert(run(Seq("l", "o", "w"), Seq("l o", "lo w")) === Seq("low"))
    // reversed order: second rule's precondition never exists
    assert(run(Seq("l", "o", "w"), Seq("lo w", "l o")) === Seq("lo", "w"))
    // no match → unchanged; empty rules → unchanged
    assert(run(Seq("x", "y"), Seq("a b")) === Seq("x", "y"))
    assert(run(Seq("x", "y"), Seq.empty) === Seq("x", "y"))
  }

  test("bpe_merge: codegen and interpreted agree") {
    val df = Tables.t(spark, sfDir, "documents").limit(100)
      .select(array_remove(split(lower($"text"), ""), " ").as("syms"))
    val expr = call_function("bpe_merge", $"syms",
      typedlit(Seq("t h", "th e", "a n")))
    val on = df.select(expr.as("r")).collect().map(_.getSeq[String](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = try df.select(expr.as("r")).collect().map(_.getSeq[String](0))
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(on.toSeq === off.toSeq)
  }

  test("rules memo invalidates when the dataset is rewritten (no stale serve)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-memo").toString
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    // corpus A: 'er' dominates → first merge is (e, r)
    writeDocs(Seq.fill(5)("er er er er"))
    val r1 = functions.Bpe.trainRules(spark, dir)
    assert(r1.head._2 == "e" && r1.head._3 == "r")
    // rewrite with a different corpus: 'lo' dominates
    writeDocs(Seq.fill(5)("lo lo lo lo"))
    val r2 = functions.Bpe.trainRules(spark, dir)
    assert(r2.head._2 == "l" && r2.head._3 == "o",
      s"stale rules served after rewrite: $r2")
  }

  test("apply: tokens round-trip to the original words, compression holds") {
    Derived.clear("bpe_rules")
    val rules = functions.Bpe.trainRules(spark, sfDir).map(r => s"${r._2} ${r._3}")
    val words = Tables.t(spark, sfDir, "documents").limit(200)
      .select(explode(split(lower($"text"), " ")).as("word"))
      .filter(length($"word") > 0)
      .select($"word",
        call_function("bpe_merge",
          array_remove(split($"word", ""), ""), typedlit(rules)).as("toks"))
      .select($"word", concat_ws("", $"toks").as("joined"),
        size($"toks").as("n_toks"), length($"word").as("n_chars"))
      .as[(String, String, Int, Int)].collect()
    words.foreach { case (w, joined, nToks, nChars) =>
      assert(joined === w, s"round-trip broke for '$w'")
      assert(nToks <= nChars && nToks >= 1)
    }
    // the merges actually compress: some word has fewer tokens than chars
    assert(words.exists { case (_, _, nToks, nChars) => nToks < nChars })
  }

  test("driver fast path and distributed trainer are rule-for-rule " +
    "identical on a planted corpus (the DriverVocabCap crossover)") {
    // planted vocab with repeated-pair words, ties, and single-char
    // words — the edge shapes the merge loop must agree on
    val wf = Seq(("aaa", 5L), ("aab", 5L), ("banana", 3L), ("bandana", 2L),
      ("x", 9L), ("nan", 4L), ("ana", 4L))
    val words = wf.toDF("word", "freq")
    val dist = functions.Bpe.trainDistributed(words)
    val local = functions.Bpe.trainLocal(wf)
    assert(dist === local)
    assert(dist.nonEmpty)
  }
}
