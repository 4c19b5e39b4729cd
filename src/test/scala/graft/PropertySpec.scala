package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-driven properties (SURVEY.md §5.2 item 4): set-algebra laws
  * of the engine ops and round-trips of the surrogate-key/similarity
  * kernels, each executed through the real Spark operators on generated
  * inputs (hand-rolled deterministic sampler — the scalatest-plus bridge
  * isn't in the offline dependency set).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mini-forAll: N samples from a fixed seed. */
  private def check[A](gen: Gen[A], n: Int = 20)(body: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }

  private val smallInts = Gen.listOfN(12, Gen.choose(0, 9))

  test("union cardinality: |A ∪all B| = |A| + |B|") {
    check(Gen.zip(smallInts, smallInts)) { case (a, b) =>
      assert(a.toDF("v").union(b.toDF("v")).count() === (a.size + b.size).toLong)
    }
  }

  test("intersect result is a subset of both inputs") {
    check(Gen.zip(smallInts, smallInts)) { case (a, b) =>
      val inter = a.toDF("v").intersect(b.toDF("v")).as[Int].collect().toSet
      assert(inter.subsetOf(a.toSet) && inter.subsetOf(b.toSet))
    }
  }

  test("except ∪ intersect partitions the distinct left side") {
    check(Gen.zip(smallInts, smallInts), n = 10) { case (a, b) =>
      val da = a.toDF("v"); val db = b.toDF("v")
      val ex = da.except(db).as[Int].collect().toSet
      val in = da.intersect(db).as[Int].collect().toSet
      assert((ex ++ in) === a.toSet)
      assert((ex intersect in).isEmpty)
    }
  }

  test("cell_id concat round-trips when barcode is separator-free") {
    val ident = Gen.identifier.suchThat(s => s.nonEmpty && !s.contains("-"))
    check(Gen.listOfN(6, Gen.zip(ident, ident)), n = 10) { rows =>
      if (rows.nonEmpty) {
        val ok = rows.toDF("dataset", "barcode")
          .withColumn("cell_id", concat_ws("-", $"dataset", $"barcode"))
          .withColumn("back_ds", substring_index($"cell_id", "-", 1))
          .withColumn("back_bc", substring_index($"cell_id", "-", -1))
          .select($"dataset" === $"back_ds" && $"barcode" === $"back_bc")
          .as[Boolean].collect()
        assert(ok.forall(identity))
      }
    }
  }

  test("jaccard bounds and self-similarity = 1") {
    val words = Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
    check(Gen.zip(words, words), n = 15) { case (wa, wb) =>
      val df = Seq((wa.mkString(" "), wb.mkString(" "))).toDF("ta", "tb")
      val inter = size(array_intersect(Dedup.wordSet($"ta"), Dedup.wordSet($"tb")))
      val j = df.select((inter.cast("double") /
          (size(Dedup.wordSet($"ta")) + size(Dedup.wordSet($"tb")) - inter))
          .as("j")).as[Double].head()
      assert(j >= 0.0 && j <= 1.0)
      if (wa.toSet == wb.toSet) assert(j === 1.0)
    }
  }

  test("cast-to-numeric coerces garbage to null, numbers to values") {
    val tok = Gen.oneOf(
      Gen.chooseNum(0L, 999999999L).map(_.toString),
      Gen.alphaStr.suchThat(s => s.nonEmpty && !s.forall(_.isDigit)).map(_.take(8)))
    check(Gen.listOfN(6, tok), n = 10) { vals =>
      if (vals.nonEmpty) {
        val out = vals.toDF("s").select($"s".cast("long")).collect()
        vals.zip(out).foreach { case (s, row) =>
          if (s.forall(_.isDigit)) assert(row.get(0) === s.toLong)
          else assert(row.get(0) === null)
        }
      }
    }
  }

  test("RangeJoinRewrite result equals brute-force overlap on random intervals") {
    // Random interval tables through the real optimizer rule (the test
    // session has GraftExtensions) compared against a driver-side
    // brute-force O(n·m) reference — the rule's correctness contract
    // (each overlapping pair exactly once, nothing else) on shapes the
    // hand-written queries don't cover: nested, touching, point, and
    // disjoint intervals.
    val intervals = Gen.listOfN(25,
      for {
        lo <- Gen.choose(0L, 300L)
        len <- Gen.choose(0L, 80L)
      } yield (lo, lo + len))
    check(Gen.zip(intervals, intervals), n = 8) { case (as, bs) =>
      val a = as.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("a_id", "a_lo", "a_hi")
      val b = bs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("b_id", "b_lo", "b_hi")
      // multiset compare: catches duplicate emission, not just misses
      val got = a.join(b,
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
        .select("a_id", "b_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val expected = (for {
        ((alo, ahi), ai) <- as.zipWithIndex
        ((blo, bhi), bi) <- bs.zipWithIndex
        if alo <= bhi && blo <= ahi
      } yield (ai.toLong, bi.toLong)).sorted
      assert(got === expected)
    }
  }

  test("pivot is the inverse of explode for the concept table") {
    // make_uuids_tsv.py:91-142 risk item (SURVEY §7.4.5): pivoting concept
    // rows to columns then reading columns back yields the original pairs.
    val rows = Seq((1L, "age", "61"), (1L, "sex", "F"), (2L, "age", "42"))
    val piv = rows.toDF("uuid", "concept", "value")
      .groupBy("uuid").pivot("concept", Seq("age", "sex")).agg(first("value"))
    val back = piv.select($"uuid",
        explode(map_from_arrays(typedlit(Seq("age", "sex")),
          array($"age", $"sex"))).as(Seq("concept", "value")))
      .filter($"value".isNotNull)
      .as[(Long, String, String)].collect().toSet
    assert(back === rows.toSet)
  }

  // random "documents": 0-14 words drawn from a tiny vocabulary so
  // repeats and shared grams are frequent; single-space joined (the
  // tokenizer contract of both expressions)
  private val randomDoc: Gen[String] = for {
    n <- Gen.choose(0, 14)
    ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "cc", "ddd", "e"))
  } yield ws.mkString(" ")

  test("word_kgrams equals the HOF shingling on random docs and k") {
    check(Gen.zip(Gen.listOfN(8, randomDoc), Gen.choose(1, 6)), n = 15) {
      case (docs, k) =>
        val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = df.select($"doc_id", Dedup.wordKShingles($"text", k).as("s"))
          .as[(Long, Seq[String])].collect().toMap
        val want = df.select($"doc_id", TestRefs.hofShingles($"text", k).as("s"))
          .as[(Long, Seq[String])].collect().toMap
        assert(got === want, s"k=$k docs=$docs")
    }
  }

  test("gram_stats invariants on random docs: totals, bounds, max") {
    check(Gen.listOfN(8, randomDoc), n = 15) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val words = split(lower($"text"), " ")
      val out = df.select($"doc_id", size(words).as("nw"),
          call_function("gram_stats", words, lit(2)).as("g"))
        .select($"doc_id", $"nw", $"g.total", $"g.n_distinct", $"g.max_n")
        .as[(Long, Int, Option[Long], Option[Long], Option[Long])]
        .collect()
      out.foreach { case (id, nw, total, distinct, maxN) =>
        if (nw < 2) assert(total.isEmpty, s"doc $id: short doc must be null")
        else {
          // split("") = [""] so nw >= 1 always; grams = nw - 1
          assert(total.get === (nw - 1).toLong, s"doc $id")
          assert(distinct.get >= 1L && distinct.get <= total.get, s"doc $id")
          assert(maxN.get >= 1L && maxN.get <= total.get, s"doc $id")
          // pigeonhole: distinct * max >= total
          assert(distinct.get * maxN.get >= total.get, s"doc $id")
        }
      }
    }
  }

  test("encoded-argmax mode equals reference mode on random multisets") {
    // the agg_mode_exact encoding (n * 1024 - value) must pick the
    // highest count with smallest-value tie-break for ANY multiset of
    // values in [0, 1023]
    val gen = Gen.listOfN(30, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0, 50)))
    check(gen, n = 15) { rows =>
      val out = rows.toDF("g", "v")
        .groupBy($"g", $"v").agg(count(lit(1)).as("n"))
        .groupBy("g")
        .agg(max_by($"v", $"n" * 1024L - $"v").as("mode_v"))
        .as[(String, Int)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val counts = rs.groupBy(_._2).view.mapValues(_.size)
        // max count, ties to smallest value
        g -> counts.toSeq.maxBy { case (v, n) => (n, -v) }._1
      }
      assert(out === expected)
    }
  }

  test("upsert_latest equals per-key reference maxBy on random logs") {
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(1, 4), Gen.choose(0L, 20L), Gen.choose(0.0, 9.0)))
    check(gen, n = 15) { raw =>
      // unique event ids make the tiebreak total, as in the real table
      val rows = raw.zipWithIndex.map { case ((k, t, v), i) => (k, t, i.toLong, v) }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy($"t".desc, $"eid".desc)
      val out = rows.toDF("k", "t", "eid", "v")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"k", $"eid").as[(Int, Long)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.maxBy(r => (r._2, r._3))._3
      }
      assert(out === expected)
    }
  }

  test("temperature mixture weights: sum to 1, preserve order, flatten " +
    "ratios, invariant under input partitioning") {
    val gen = Gen.listOfN(6, Gen.choose(1L, 1000000L))
    check(gen, n = 15) { masses =>
      val rows = masses.zipWithIndex.map { case (m, i) => (s"s$i", m) }
      def weights(parts: Int): Map[String, Double] = {
        val perSrc = rows.toDF("source", "n_tokens").repartition(parts)
          .withColumn("scaled",
            U.round6(pow($"n_tokens".cast("double"), lit(0.5))))
        val tot = perSrc.agg(U.dbl(sum(U.dec6($"scaled"))).as("tot"))
        perSrc.crossJoin(broadcast(tot))
          .select($"source", U.round6($"scaled" / $"tot").as("weight"))
          .as[(String, Double)].collect().toMap
      }
      val w = weights(3)
      assert(math.abs(w.values.sum - 1.0) < 1e-4, s"sum=${w.values.sum}")
      // monotone: more tokens → no smaller weight
      val byMass = rows.sortBy(_._2)
      byMass.sliding(2).foreach {
        case Seq((a, ma), (b, mb)) =>
          if (ma < mb) assert(w(a) <= w(b) + 1e-9, s"$a/$b order broken")
        case _ =>
      }
      // tau=0.5 flattens: max/min weight ratio ≤ sqrt(max/min mass) + eps
      val (mn, mx) = (masses.min.toDouble, masses.max.toDouble)
      if (w.values.min > 0)
        assert(w.values.max / w.values.min <=
          math.sqrt(mx / mn) * (1 + 1e-3))
      // deterministic under partitioning (decimal-bridged normalizer)
      assert(weights(1) === w)
    }
  }

  test("stitched numbering equals global row_number on random ids and " +
    "block sizes") {
    // Sparse ids (gaps, uneven blocks), random block granularity —
    // including blockSize larger than the id range (degenerate single
    // block) and 1 (every id its own block).
    val gen = Gen.zip(
      Gen.listOfN(40, Gen.choose(0L, 400L)).map(_.distinct),
      Gen.oneOf(1L, 3L, 7L, 64L, 1000L))
    check(gen, n = 10) { case (ids, blockSize) =>
      if (ids.nonEmpty) {
        val df = ids.toDF("id")
        val got = operators.Windows.stitchedRowNumber(
          df, expr(s"id div ${blockSize}L"), Seq(col("id")))
          .select(col("id"), col("rn")).as[(Long, Long)]
          .collect().sortBy(_._2)
        val want = ids.sorted.zipWithIndex.map { case (id, i) => (id, i + 1L) }
        assert(got.toSeq === want)
      }
    }
  }

  test("stitched sums and numbering equal the one-window forms on random " +
    "groups, blocks and a descending order") {
    import org.apache.spark.sql.expressions.Window
    // group "a" spans many blocks; group "b" keeps every key inside one
    // block; keys collide across groups, values are non-null longs and
    // 2-decimal amounts of both signs
    val gen = for {
      bs <- Gen.oneOf(3L, 7L, 64L)
      a <- Gen.listOfN(40, Gen.choose(0L, 400L)).map(_.distinct)
      b <- Gen.listOfN(6, Gen.choose(0L, bs - 1)).map(_.distinct)
      vs <- Gen.listOfN(a.size + b.size, Gen.choose(-100000L, 100000L))
    } yield (bs, a.map("a" -> _) ++ b.map("b" -> _), vs)
    check(gen, n = 6) { case (bs, keys, vs) =>
      val df = keys.zip(vs).map { case ((g, k), v) => (g, k, v) }
        .toDF("g", "k", "lv")
        .withColumn("dv", (col("lv") / 100.0).cast("decimal(12,2)"))
      val block = expr(s"-(k div $bs)")
      val desc = Seq(col("k").desc)
      val got = operators.Windows.stitchedSums(df, Seq("g"), block, desc,
        Seq(("lv", "lv_run", "lv_tot"), ("dv", "dv_run", "dv_tot")))
      val byG = Window.partitionBy("g")
      val want = df
        .withColumn("lv_run", sum(col("lv")).over(byG.orderBy(desc: _*)))
        .withColumn("lv_tot", sum(col("lv")).over(byG))
        .withColumn("dv_run", sum(col("dv")).over(byG.orderBy(desc: _*)))
        .withColumn("dv_tot", sum(col("dv")).over(byG))
      val outs = Seq("g", "k", "lv_run", "lv_tot", "dv_run", "dv_tot")
      assert(outs.map(got.schema(_).dataType) ===
        outs.map(want.schema(_).dataType))
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.select(outs.map(col): _*).collect().map(_.toSeq).toSeq
          .sortBy(r => (r(0).toString, r(1).asInstanceOf[Long]))
      assert(rows(got) === rows(want))

      val order = Seq(col("k").desc, col("g"))
      val rn = operators.Windows.stitchedRowNumber(df, block, order)
        .select("g", "k", "rn")
      val wantRn = df.select(col("g"), col("k"),
        row_number().over(Window.orderBy(order: _*)).cast("long").as("rn"))
      assert(rn.schema("rn").dataType === wantRn.schema("rn").dataType)
      assert(rn.exceptAll(wantRn).isEmpty && wantRn.exceptAll(rn).isEmpty)
    }
  }

  test("bpe_merge kernel == reference greedy fold on random symbol/rule sets") {
    def refMerge(syms: List[String], rules: List[String]): List[String] =
      rules.foldLeft(syms) { (cur, rule) =>
        rule.split(" ", 2) match {
          case Array(a, b) if a.nonEmpty =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < cur.length) {
              if (i < cur.length - 1 && cur(i) == a && cur(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += cur(i); i += 1 }
            }
            out.toList
          case _ => cur
        }
      }
    val sym = Gen.oneOf("a", "b", "c", "ab", "bc")
    val gen = Gen.zip(
      Gen.listOfN(10, sym),
      Gen.listOfN(3, Gen.zip(sym, sym).map { case (a, b) => s"$a $b" }))
    check(gen, n = 30) { case (syms, rules) =>
      val got = spark.range(1)
        .select(call_function("bpe_merge",
          typedlit(syms), typedlit(rules)).as("r"))
        .as[Seq[String]].head()
      assert(got.toList === refMerge(syms, rules),
        s"syms=$syms rules=$rules")
    }
  }

  test("chunk overlap covers every word exactly, starts on the stride, " +
    "and consecutive full chunks overlap by W-S words") {
    // random word counts, including the empty-ish and exact-boundary cases
    val nGen = Gen.oneOf(Gen.choose(1, 200),
      Gen.oneOf(1, 63, 64, 65, 112, 113, 160))
    check(nGen, n = 15) { n =>
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val tmp = java.nio.file.Files.createTempDirectory("ckp").toString
      Seq((1L, text)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val chunks = graft.functions.TextOps.queries("text_chunk_overlap")(
        spark, tmp)
        .select("chunk_idx", "start_word", "n_tokens")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // starts are consecutive multiples of the stride
      assert(chunks.map(_._2).toSeq ===
        chunks.indices.map(_ * 48L))
      // every word index [0, n) is inside some [start, start+len) window
      val covered = chunks.flatMap { case (_, st, len) => st until (st + len) }
      assert(covered.toSet === (0L until n.toLong).toSet)
      // all but the last chunk are full W=64; the last reaches word n
      chunks.init.foreach { case (_, _, len) => assert(len === 64L) }
      val (_, lastSt, lastLen) = chunks.last
      assert(lastSt + lastLen === n.toLong)
      // consecutive full chunks overlap by exactly W-S = 16 words
      if (chunks.length >= 2)
        assert(chunks(0)._2 + 64 - chunks(1)._2 === 16L)
    }
  }

  test("substring-span detector: a planted shared run of n >= L words is " +
    "reported exactly once, maximal, at its exact offsets, for random " +
    "run lengths and context paddings") {
    // (passage length, ctxA prefix, ctxB prefix) — all-unique context
    // words so the ONLY shared 8-grams are the passage's interior ones
    val gen = Gen.zip(Gen.choose(16, 48), Gen.choose(0, 30), Gen.choose(0, 30))
    check(gen, n = 6) { case (n, padA, padB) =>
      val passage = (0 until n).map(i => s"p$i")
      val docA = ((0 until padA).map(i => s"a$i") ++ passage ++
        (0 until 12).map(i => s"x$i")).mkString(" ")
      val docB = ((0 until padB).map(i => s"b$i") ++ passage ++
        (0 until 12).map(i => s"y$i")).mkString(" ")
      val tmp = java.nio.file.Files.createTempDirectory("ssp").toString
      Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = Dedup.queries("dedup_substring_span")(spark, tmp)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(got === Seq((1L, 2L, padA.toLong, padB.toLong, n.toLong)),
        s"n=$n padA=$padA padB=$padB")
    }
  }
  test("gopher repetition gate: Spark equals a direct Scala mirror on " +
    "random small-vocab docs (char-weighted fracs, struct-max tie, " +
    "rounded keep)") {
    // Short repeated words from a 5-word vocab with varied lengths
    // exercise every branch: saturated dups, ties in the top-2-gram
    // struct-max (broken by char weight then gram bytes), sub-n docs,
    // and the empty-doc exclusion.
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val docGen = Gen.choose(0, 12).flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab)))
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e6
    check(Gen.listOfN(40, docGen), n = 3) { docs =>
      val tmp = java.nio.file.Files.createTempDirectory("repprop").toString
      docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = graft.functions.TextOps
        .queries("text_gopher_repetition")(spark, tmp)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getBoolean(4))).toSeq
      val want = docs.zipWithIndex.filter(_._1.nonEmpty).map { case (ws, i) =>
        val dchars = ws.map(_.length).sum.toDouble
        def cnt(n: Int): Map[String, Int] =
          (0 to ws.length - n).map(j => ws.slice(j, j + n).mkString("\u0001"))
            .groupBy(identity).map { case (g, o) => (g, o.size) }
        val c2 = cnt(2)
        val top2 = if (c2.isEmpty) 0.0 else {
          val (g, c) = c2.maxBy { case (g, c) => (c, g.length - 1, g) }
          r6(c * (g.length - 1) / dchars)
        }
        def dup(n: Int): Double = r6(math.min(1.0,
          cnt(n).collect { case (g, c) if c >= 2 =>
            c.toDouble * (g.length - (n - 1)) }.sum / dchars))
        val (d5, dw) = (dup(5), dup(1))
        (i.toLong, top2, d5, dw, top2 <= 0.2 && d5 <= 0.15)
      }
      assert(got === want)
    }
  }
}
